"""Extractor-backend and transport test doubles: a backend that refuses
to run, one that fails on matching texts, and an Instructor-shaped
transport that logs and fails on demand. Defined in an importable module
so Spark's Python workers unpickle them by reference."""

from __future__ import annotations

import re
from typing import Optional

from delm_spark.extraction.backend import ExtractorBackend


class CacheOnlyBackend:
    """Backend that refuses to run: guarantees a run is served entirely
    from the persistent semantic cache (and proves warm reruns make zero
    backend calls — any invocation surfaces as a delm_errors row)."""

    def extract_raw(self, text):
        raise RuntimeError("backend invoked despite warm cache")


class FlakyLoggingTransport:
    """Instructor-shaped transport double (5 positional params, the last
    the dynamic response model) for end-to-end tests of PromptedApiBackend:
    every call appends `<md5(prompt)> <monotonic-time>` to `log_path`
    (executors share the driver's filesystem in local mode, so the driver
    can read back the exact call/retry sequence), the first `fail_first`
    calls per prompt raise (transient failure), and prompts matching
    `permanent_fail_pattern` always raise (permanent failure -> error row).
    Successes return an empty raw container for `container_name`."""

    def __init__(
        self,
        log_path: str,
        container_name: str = "triples",
        fail_first: int = 0,
        permanent_fail_pattern: Optional[str] = None,
    ):
        self.log_path = log_path
        self.container_name = container_name
        self.fail_first = fail_first
        self.permanent_fail_pattern = permanent_fail_pattern

    def __call__(self, prompt, system, model, temperature, response_model):
        import hashlib
        import time as _time

        key = hashlib.md5((prompt or "").encode("utf-8")).hexdigest()
        try:
            with open(self.log_path) as f:
                prior = sum(1 for line in f if line.startswith(key))
        except FileNotFoundError:
            prior = 0
        # O_APPEND single short write: atomic on local filesystems
        with open(self.log_path, "a") as f:
            f.write(f"{key} {_time.monotonic():.6f}\n")
        if self.permanent_fail_pattern and re.search(
            self.permanent_fail_pattern, prompt or ""
        ):
            raise RuntimeError("permanent transport failure")
        if prior < self.fail_first:
            raise RuntimeError(f"transient transport failure #{prior + 1}")
        assert response_model is not None  # Instructor contract
        return {self.container_name: []}


class FailingBackend:
    """Test backend that fails on texts matching a pattern — exercises the
    error-safe path (reference extraction_manager.py:244-269)."""

    def __init__(self, inner: ExtractorBackend, fail_pattern: str):
        self.inner = inner
        self.fail_re = re.compile(fail_pattern)

    def extract_raw(self, text: str):
        if text and self.fail_re.search(text):
            raise RuntimeError(f"simulated extraction failure")
        return self.inner.extract_raw(text)
