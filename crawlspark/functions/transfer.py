"""Transfer-decoding middleware: gzip bodies, forgiving + retry policies.

Behavioral spec from the reference (middlewares.py:36-61):
  * ``GzipRetryMiddleware`` — when ``Content-Encoding`` contains gzip,
    ``gzip.decompress`` the body; a decompression failure
    (``OSError``/``EOFError``) re-queues the request (retry);
  * ``ForgivingHttpCompressionMiddleware`` — a ``BadGzipFile`` (the header
    claims gzip but the body is plain) falls back to the uncompressed
    body as-is.

Merged policy here (one function shared by the fused pipeline and the
single-threaded oracle): BadGzipFile →
forgiving passthrough; truncated/other stream errors → decode_error=True,
which the crawl loop turns into a retry with backoff.
"""

from __future__ import annotations

import gzip
import hashlib


def decode_body_py(raw: bytes | None, content_encoding: str | None) -> tuple[str | None, bool]:
    """(raw transfer bytes, encoding) → (decoded text body, decode_error)."""
    if raw is None:
        return None, False
    if content_encoding and "gzip" in content_encoding:
        try:
            plain = gzip.decompress(raw)
        except gzip.BadGzipFile:
            # forgiving: the header lies, the body is already plain
            try:
                return raw.decode("utf-8"), False
            except UnicodeDecodeError:
                return None, True
        except (OSError, EOFError):
            return None, True  # truncated/corrupt stream → retry upstream
        # decompressed fine but isn't UTF-8: same decode_error contract as
        # the plain-body path (a real fetcher can hand us any bytes here)
        try:
            return plain.decode("utf-8"), False
        except UnicodeDecodeError:
            return None, True
    try:
        return raw.decode("utf-8"), False
    except UnicodeDecodeError:
        return None, True


def body_hash_py(body: str | None) -> str | None:
    """Stable content hash for the fetched-cache table (md5 of the DECODED
    body — transfer encoding must not change a page's cache identity)."""
    if body is None:
        return None
    return hashlib.md5(body.encode("utf-8", "surrogatepass")).hexdigest()
