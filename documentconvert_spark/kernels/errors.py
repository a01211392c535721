"""Per-row error containment (``contained``, reference C7) and classification.

``classify_error`` is a substring-match cascade over the error message,
mirroring the reference's classifier (`services/document_service.py:394-424`,
12 classes). The class feeds the state table's error metric; order matters
(first match wins).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator


def contained(rows: Iterable[tuple], fn: Callable) -> Iterator[tuple]:
    """The engine's one containment loop (reference C7,
    `services/document_service.py:119-126`), iterated by the extraction
    UDF, the media ops and the fuzz campaign. Yield ``(row, fn(*row),
    None)`` per row in order, or ``(row, None, exc)`` when ``fn`` raises
    an Exception; BaseException propagates. One generator per batch, so
    batch-wide setup can wrap the whole loop."""
    for row in rows:
        try:
            result = fn(*row)
        except Exception as exc:  # noqa: BLE001 — containment is the contract
            # no caller reads the traceback; its frames would keep the
            # failed row's intermediates alive while the next row runs
            yield row, None, exc.with_traceback(None)
        else:
            yield row, result, None


def require_content(raw: bytes | None) -> bytes:
    """The row functions' shared null-content guard."""
    if raw is None:
        raise ValueError("malformed: null content")
    return raw


_CLASSES: list[tuple[str, str]] = [
    ("password", "password_protected"),
    ("encrypt", "password_protected"),
    ("out of memory", "oom"),
    ("memory", "oom"),
    ("cuda", "gpu_error"),
    ("module", "missing_dependency"),
    ("import", "missing_dependency"),
    ("permission", "permission_denied"),
    ("timeout", "timeout"),
    ("timed out", "timeout"),
    ("truncated", "malformed_input"),
    ("malformed", "malformed_input"),
    ("header", "malformed_input"),
    ("decode", "encoding_error"),
    ("codec", "encoding_error"),
    ("not found", "not_found"),
    ("no such file", "not_found"),
    ("disk", "storage_error"),
    ("space", "storage_error"),
]


def classify_error(error: str) -> str:
    low = (error or "").lower()
    for needle, cls in _CLASSES:
        if needle in low:
            return cls
    return "unknown_error"


# F14: error class → remediation text (reference _get_error_suggestions,
# document_service.py:426-463 — a fixed class→suggestion lookup rendered
# into the failure report). The engine's classes are its own vocabulary;
# the mapping mirrors the reference's advice per analogous class.
_SUGGESTIONS: dict[str, str] = {
    "password_protected": (
        "1. The document is password protected and cannot be processed\n"
        "2. Remove the protection with a document editor and resubmit\n"
        "3. Or provide an unprotected version of the file"
    ),
    "oom": (
        "1. Check executor memory configuration\n"
        "2. Split oversized documents or lower the Arrow batch row cap\n"
        "3. Check for concurrent jobs sharing the same executors"
    ),
    "gpu_error": (
        "1. Check accelerator driver installation\n"
        "2. Verify the runtime supports the installed accelerator\n"
        "3. Restart the worker to release device memory"
    ),
    "missing_dependency": (
        "1. Check that all pipeline dependencies are installed on executors\n"
        "2. Ship the package zip via --py-files\n"
        "3. Verify package version compatibility"
    ),
    "permission_denied": (
        "1. Check read/write permissions on input and output paths\n"
        "2. Ensure the job principal has filesystem/bucket access\n"
        "3. Check whether the file is locked by another process"
    ),
    "not_found": (
        "1. Check the input path is correct\n"
        "2. Confirm the file still exists (not moved or deleted)\n"
        "3. Check for special characters in the path"
    ),
    "timeout": (
        "1. Raise the per-document processing budget\n"
        "2. Route oversized documents to the heavy-tail partition\n"
        "3. Check for resource contention on the executors"
    ),
    "malformed_input": (
        "1. Check whether the document is corrupt or truncated\n"
        "2. Verify the format is in the supported whitelist\n"
        "3. Re-export the document from its source application"
    ),
    "encoding_error": (
        "1. Check the document's declared character encoding\n"
        "2. The repair cascade handles latin-1/gbk mojibake automatically\n"
        "3. Re-export the document as UTF-8 if possible"
    ),
    "storage_error": (
        "1. Check free disk space on executors and the output store\n"
        "2. Check storage-layer quotas and throttling\n"
        "3. Retry after freeing space"
    ),
}

_DEFAULT_SUGGESTION = (
    "1. Check whether the document is corrupt or in an unsupported format\n"
    "2. Retry the document (transient failures are retried automatically)\n"
    "3. If the problem persists, inspect the error detail in the report"
)


def error_suggestion(error_class: str) -> str:
    """Remediation text for an error class (F14)."""
    return _SUGGESTIONS.get(error_class or "", _DEFAULT_SUGGESTION)
