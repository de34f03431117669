"""Spark-free references the benchmark checks the program's outputs against.

``expected_triples`` runs the public kernel calls document by document,
with no memo, no Arrow batches and no Spark; ``canonicalize`` and the graph
mirrors restate the documented semantics of the entity layer's
``canonicalize``, ``pagerank_fixed_point``, ``label_propagation`` and
``kcore`` in plain Python over collected rows.
"""

from __future__ import annotations

import json
import re
from collections import Counter, defaultdict
from typing import Iterable, Mapping

from json_ld_spark.kernel import (
    Context,
    JsonLdError,
    ProcessorOptions,
    expand_document,
    expanded_to_triples,
    process_context,
)
from json_ld_spark.pipeline.extract import iter_turn_documents

_EMPTY = (None,) * 8


def _document_rows(processor: ProcessorOptions, base: str, raw: str) -> list[tuple]:
    try:
        doc = json.loads(raw)
    except ValueError:
        return [_EMPTY + ("loading document failed",)]
    if doc is None:
        return []
    try:
        ctx_value = doc.get("@context") if isinstance(doc, Mapping) else None
        if ctx_value is not None:
            active = process_context(processor, Context(base=base), ctx_value, base)
            body = {k: v for k, v in doc.items() if k != "@context"}
        else:
            active, body = Context(base=base), doc
        return [
            (t["subj"], t["pred"], t["obj_kind"], t["obj_value"], t["obj_type"],
             t["obj_lang"], t["obj_direction"], t["graph"], None)
            for t in expanded_to_triples(expand_document(processor, active, body))
        ]
    except JsonLdError as e:
        return [_EMPTY + (e.code.value,)]


def expected_triples(turns: Iterable[tuple], raw_contexts: dict, base: str) -> list[tuple]:
    """Triple rows (``TRIPLE_SCHEMA`` order) for candidate turns given as
    ``(conv_id, turn_idx, text, tool)``, duplicates within a turn removed."""
    processor = ProcessorOptions(document_iri=base, context_loader=dict(raw_contexts))
    out: list[tuple] = []
    for conv_id, turn_idx, text, tool in turns:
        rows = [
            (conv_id, int(turn_idx)) + part
            for raw in iter_turn_documents(text, tool)
            for part in _document_rows(processor, base, raw)
        ]
        out.extend(dict.fromkeys(rows))
    return out


_LOCAL_NAME = re.compile(r"([^/#]+)$")
_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
MAX_BLOCK = 64


def _kind(canon_id: str) -> str:
    for k in ("person", "event", "org"):
        if k in canon_id:
            return k
    return "other"


def canonicalize(triples: Iterable[tuple]) -> tuple[list[tuple], list[tuple]]:
    """Nodes ``(canon_id, iri, kind, n_aliases)`` and edges ``(src_canon,
    pred, dst_canon, provenance)`` of the entity layer, from triple rows in
    ``TRIPLE_SCHEMA`` order: an entity dictionary of subject and IRI-object
    ids (blank nodes and W3C vocabulary left out), same-as stars from each
    blocking key's members to its least member (blocks of 2 to
    ``MAX_BLOCK`` ids), union-find components labelled by their least
    member, and the rewrite of every clean IRI-object triple whose
    predicate is not in the RDF namespace."""
    clean = [t for t in triples if t[10] is None]
    ents = {
        v for t in clean for v in (t[2], t[5] if t[4] == "iri" else None)
        if v is not None and not v.startswith(("_:", "http://www.w3.org/"))
    }
    blocks: dict = defaultdict(list)
    for e in ents:
        m = _LOCAL_NAME.search(e)
        blocks[m.group(1) if m else ""].append(e)
    parent = {e: e for e in ents}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in blocks.values():
        if 1 < len(members) <= MAX_BLOCK:
            root = min(members)
            for e in members:
                a, b = find(e), find(root)
                parent[max(a, b)] = min(a, b)
    canon = {e: find(e) for e in ents}
    aliases: dict = defaultdict(list)
    for e, c in canon.items():
        aliases[c].append(e)
    nodes = [(c, min(m), _kind(c), len(m)) for c, m in aliases.items()]
    edges = Counter(
        (canon[t[2]], t[3], canon[t[5]])
        for t in clean
        if t[4] == "iri" and t[2] in canon and t[5] in canon
        and t[3] is not None and not t[3].startswith(_RDF)
    )
    return nodes, [k + (n,) for k, n in edges.items()]


TOTAL_MASS = 10**12


def _simple(edges: Iterable[tuple]) -> set[tuple]:
    return {(a, b) for a, b in edges if a is not None and b is not None and a != b}


def _undirected(edges: Iterable[tuple]) -> set[tuple]:
    und = _simple(edges)
    return und | {(b, a) for a, b in und}


def pagerank(edges: Iterable[tuple], n_iters: int) -> dict:
    """Integer fixed-point PageRank, damping 85/100, over distinct directed
    non-loop edges; every node starts at ``TOTAL_MASS // n``."""
    e = _simple(edges)
    nodes = {a for a, _ in e} | {b for _, b in e}
    if not nodes:
        return {}
    n = len(nodes)
    base = (TOTAL_MASS * 15) // (100 * n)
    deg = Counter(a for a, _ in e)
    rank = dict.fromkeys(nodes, TOTAL_MASS // n)
    for _ in range(n_iters):
        inflow: dict = defaultdict(int)
        for a, b in e:
            inflow[b] += (rank[a] * 85) // (100 * deg[a])
        rank = {v: base + inflow.get(v, 0) for v in nodes}
    return rank


def label_propagation(edges: Iterable[tuple], n_iters: int) -> dict:
    """Synchronous rounds: each node takes its neighbours' most frequent
    label, ties to the least label."""
    und = _undirected(edges)
    label = {a: a for a, _ in und}
    for _ in range(n_iters):
        best: dict = {}
        for (a, c), k in Counter((a, label[b]) for a, b in und).items():
            key = (-k, c)
            if a not in best or key < best[a]:
                best[a] = key
        label = {a: c for a, (_, c) in best.items()}
    return label


def kcore(edges: Iterable[tuple], k: int) -> dict:
    """Peel nodes of degree < k until a round keeps as many nodes as the
    round before; returns the degrees of the surviving edge set."""
    alive = _undirected(edges)
    prev = -1
    while True:
        deg = Counter(a for a, _ in alive)
        keep = {a for a, d in deg.items() if d >= k}
        if len(keep) == prev:
            return dict(deg)
        prev = len(keep)
        alive = {(a, b) for a, b in alive if a in keep and b in keep}
