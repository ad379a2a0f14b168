"""REST upload sink for wire profiles.

The reference's Spark module uploads each segment profile over HTTP from
the executors — request an upload URL, PUT the profile bytes, retry with
exponential backoff (WhyLogs.scala:179-264; RetryUtil.scala:12-48: 3
tries, delay doubling from 1000 ms). This module re-expresses that sink
generically: it talks plain HTTP (urllib, no vendor SDK) so any endpoint
that accepts profile bytes works, and the upload fan-out is
``foreachPartition`` over the executor-assembled message DataFrame
(``protobuf.profile_messages_df``) — uploads scale with executors, the
driver never sees a profile byte.

Two endpoint shapes:
- direct: PUT/POST each delimited-ready message to ``endpoint`` as
  ``application/octet-stream``;
- presigned (the reference's two-step): POST a small JSON request to
  ``endpoint`` first, read an ``uploadUrl`` field from the JSON response,
  then PUT the bytes there.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections.abc import Sequence

# RetryUtil.scala:12-48 — 3 attempts, exponential backoff starting at 1 s
DEFAULT_RETRIES = 3
DEFAULT_BACKOFF_S = 1.0


def _with_retries(fn, retries: int, backoff_s: float):
    if retries < 1:
        raise ValueError(f"retries must be >= 1, got {retries}")
    delay = backoff_s
    for attempt in range(retries):
        try:
            return fn()
        except (urllib.error.URLError, OSError, RuntimeError):
            if attempt == retries - 1:
                raise
            time.sleep(delay)
            delay *= 2


def _put_bytes(
    url: str,
    data: bytes,
    api_key: str | None,
    method: str,
    timeout_s: float,
) -> int:
    req = urllib.request.Request(url, data=data, method=method)
    req.add_header("Content-Type", "application/octet-stream")
    if api_key:
        req.add_header("X-API-Key", api_key)
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        code = resp.getcode()
    # any 2xx is success — a 202 Accepted must not be retried into
    # duplicate uploads
    if not 200 <= code < 300:
        raise RuntimeError(f"upload failed: HTTP {code}")
    return code


def upload_message(
    msg: bytes,
    endpoint: str,
    api_key: str | None = None,
    presigned: bool = False,
    method: str = "PUT",
    timeout_s: float = 10.0,
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
) -> None:
    """Upload one profile message, with the reference's retry envelope.

    ``presigned=True`` runs the two-step flow: POST {} to ``endpoint``,
    parse ``uploadUrl`` from the JSON response, PUT the bytes there —
    each step retried independently (the reference retries logAsync and
    the PUT separately, WhyLogs.scala:228-258).
    """
    url = endpoint
    if presigned:
        def _request_url() -> str:
            req = urllib.request.Request(
                endpoint, data=json.dumps({}).encode(), method="POST"
            )
            req.add_header("Content-Type", "application/json")
            if api_key:
                req.add_header("X-API-Key", api_key)
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return json.loads(resp.read().decode())["uploadUrl"]

        url = _with_retries(_request_url, retries, backoff_s)
    _with_retries(
        lambda: _put_bytes(url, msg, api_key, method, timeout_s),
        retries,
        backoff_s,
    )


def upload_profiles(
    df,
    endpoint: str,
    group_by: Sequence[str],
    api_key: str | None = None,
    presigned: bool = False,
    method: str = "PUT",
    timeout_s: float = 10.0,
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    **profile_kwargs,
) -> int:
    """Profile ``df`` per group and upload each group's wire message.

    Message assembly AND upload both run on the executors
    (``profile_messages_df`` — one SQL statement feeding a ``mapInArrow``
    assembler — then ``foreachPartition``) — the scale shape of the
    reference's ``log()`` sink with the driver fully out of the data
    path. A group whose key is NULL uploads with its sketches and
    frequent items, tagged with an empty key value. Returns the number of
    groups uploaded (from a count of the message DataFrame — the only
    driver-side scalar).

    Uploads are at-least-once under Spark task retries, matching the
    reference (profile uploads are idempotent merges server-side).
    """
    from .protobuf import profile_messages_df

    msgs = profile_messages_df(df, group_by, **profile_kwargs)

    def _upload_partition(rows):
        n = 0
        for row in rows:
            upload_message(
                bytes(row["msg"]),
                endpoint,
                api_key=api_key,
                presigned=presigned,
                method=method,
                timeout_s=timeout_s,
                retries=retries,
                backoff_s=backoff_s,
            )
            n += 1
        yield n

    # single pass: upload and count in the same partition sweep
    return msgs.rdd.mapPartitions(_upload_partition).sum()
