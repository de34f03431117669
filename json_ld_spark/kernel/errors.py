"""JSON-LD error taxonomy.

Re-expresses the W3C JSON-LD 1.1 API error-code registry
(WD-json-ld11-api-20191112 §7) that the reference implements as a
50-variant enum (reference: src/error.rs:14-215, messages :219-272).

In the Spark pipeline these never abort a job: a failing document becomes a
quarantine row carrying ``error_code`` (see pipeline/extract.py).
"""

from __future__ import annotations

import enum


class ErrorCode(str, enum.Enum):
    """Spec error codes; values are the registry's human-readable strings
    (reference: src/error.rs:219-272)."""

    COLLIDING_KEYWORDS = "colliding keywords"
    CONFLICTING_INDEXES = "conflicting indexes"
    CONTEXT_OVERFLOW = "context overflow"
    CYCLIC_IRI_MAPPING = "cyclic IRI mapping"
    INVALID_BASE_DIRECTION = "invalid base direction"
    INVALID_BASE_IRI = "invalid base IRI"
    INVALID_CONTAINER_MAPPING = "invalid container mapping"
    INVALID_CONTEXT_ENTRY = "invalid context entry"
    INVALID_CONTEXT_NULLIFICATION = "invalid context nullification"
    INVALID_DEFAULT_LANGUAGE = "invalid default language"
    INVALID_ID_VALUE = "invalid @id value"
    INVALID_IMPORT_VALUE = "invalid @import value"
    INVALID_INCLUDED_VALUE = "invalid @included value"
    INVALID_INDEX_VALUE = "invalid @index value"
    INVALID_IRI_MAPPING = "invalid IRI mapping"
    INVALID_JSON_LITERAL = "invalid JSON literal"
    INVALID_KEYWORD_ALIAS = "invalid keyword alias"
    INVALID_LANGUAGE_MAP_VALUE = "invalid language map value"
    INVALID_LANGUAGE_MAPPING = "invalid language mapping"
    INVALID_LANGUAGE_TAGGED_STRING = "invalid language-tagged string"
    INVALID_LANGUAGE_TAGGED_VALUE = "invalid language-tagged value"
    INVALID_LOCAL_CONTEXT = "invalid local context"
    INVALID_NEST_VALUE = "invalid @nest value"
    INVALID_PREFIX_VALUE = "invalid @prefix value"
    INVALID_PROPAGATE_VALUE = "invalid @propagate value"
    INVALID_PROTECTED_VALUE = "invalid @protected value"
    INVALID_REMOTE_CONTEXT = "invalid remote context"
    INVALID_REVERSE_PROPERTY = "invalid reverse property"
    INVALID_REVERSE_PROPERTY_MAP = "invalid reverse property map"
    INVALID_REVERSE_PROPERTY_VALUE = "invalid reverse property value"
    INVALID_REVERSE_VALUE = "invalid @reverse value"
    INVALID_SCOPED_CONTEXT = "invalid scoped context"
    INVALID_SCRIPT_ELEMENT = "invalid script element"
    INVALID_SET_OR_LIST_OBJECT = "invalid set or list object"
    INVALID_TERM_DEFINITION = "invalid term definition"
    INVALID_TYPE_MAPPING = "invalid type mapping"
    INVALID_TYPE_VALUE = "invalid type value"
    INVALID_TYPED_VALUE = "invalid typed value"
    INVALID_VALUE_OBJECT = "invalid value object"
    INVALID_VALUE_OBJECT_VALUE = "invalid value object value"
    INVALID_VERSION_VALUE = "invalid @version value"
    INVALID_VOCAB_MAPPING = "invalid vocab mapping"
    IRI_CONFUSED_WITH_PREFIX = "IRI confused with prefix"
    KEYWORD_REDEFINITION = "keyword redefinition"
    LOADING_DOCUMENT_FAILED = "loading document failed"
    LOADING_REMOTE_CONTEXT_FAILED = "loading remote context failed"
    MULTIPLE_CONTEXT_LINK_HEADERS = "multiple context link header"
    PROCESSING_MODE_CONFLICT = "processing mode conflict"
    PROTECTED_TERM_REDEFINITION = "protected term redefinition"
    UNCATEGORIZED = "uncategorized error"
    # --- extensions from the FRAMING spec's registry (WD-json-ld11-framing
    # §7 error handling) — not in the API registry the reference mirrors
    # (src/error.rs has no framing codes); used by kernel/frame.py
    INVALID_FRAME = "invalid frame"
    INVALID_EMBED_VALUE = "invalid @embed value"
    # --- extensions of this pipeline, in no W3C registry: quarantine codes
    # for documents the processor cannot take (pipeline/extract.py)
    DOCUMENT_TOO_DEEP = "document too deep"


class JsonLdError(Exception):
    """A JSON-LD processing error with a spec error code.

    Mirrors the reference's ``Error`` (code + source chain,
    src/error.rs:309-349) collapsed to (code, detail message).
    """

    def __init__(self, code: ErrorCode, detail: str = "") -> None:
        self.code = code
        self.detail = detail
        super().__init__(f"{code.value}: {detail}" if detail else code.value)
