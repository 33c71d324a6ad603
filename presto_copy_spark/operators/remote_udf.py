"""Remote function execution — the RemoteProjectOperator analogue.

Reference: presto-main/.../operator/project/RemoteProjectOperator.java +
presto-grpc-api: Presto ships row pages to an external function server
and splices the returned column back into the page stream.  The
Spark-first equivalent is an Arrow-batched ``mapInPandas`` stage that
POSTs each record batch (JSON-encoded here — the container has no
pyarrow-flight/grpc server to talk to) to a function endpoint and
yields the response columns.

Scale shape: batches leave the EXECUTORS, never the driver; parallelism
is ordinary partition parallelism, and the endpoint is whatever the
deployment's function service is.  Tests demo against a stdlib
http.server on loopback (the only network this container allows);
a real deployment points ``endpoint`` at its function sidecar.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame


class RemoteFunctionError(RuntimeError):
    """Endpoint unreachable / returned an error — surfaced with the
    endpoint and HTTP detail instead of a raw worker stack trace."""


def remote_project(
    df: DataFrame,
    endpoint: str,
    function: str,
    in_cols: list[str],
    out_schema: str,
    batch_rows: int = 1024,
    max_inflight: int = 4,
) -> DataFrame:
    """Apply a remote function to ``in_cols``, returning ``out_schema``
    rows (the remote service sees {"function", "columns", "rows"} and
    answers {"rows": [...]}, one output row per input row).

    Each partition is cut into ``batch_rows``-row chunks, and up to
    ``max_inflight`` chunk requests are in flight at once, results
    yielded in submit order.  This is the RemoteProjectOperator
    posture: the reference operator is ASYNC — it returns
    ``processingPage`` futures and keeps accepting input pages while
    earlier pages are out at the function server
    (presto-main/.../operator/project/RemoteProjectOperator.java,
    isBlocked()/getOutput()) — so a slow function server is hidden
    behind pipelining rather than stalling the operator per page.  Here
    a sliding window of ``max_inflight`` thread-pool futures per
    partition gives the same overlap: the window fills, then each new
    submit first drains (and yields) the HEAD future, preserving row
    order exactly; ``max_inflight=1`` is the sequential operator.
    Network I/O releases the GIL, so threads suffice; parallelism
    ACROSS partitions is ordinary Spark task parallelism, and bytes
    move executor<->endpoint only."""
    if max_inflight < 1:
        raise ValueError("max_inflight must be >= 1")
    out_cols = _schema_cols(out_schema)

    def call(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_inflight) as pool:
            window: deque = deque()
            for pdf in batches:
                for lo in range(0, len(pdf), batch_rows):
                    if len(window) >= max_inflight:
                        yield window.popleft().result()
                    window.append(
                        pool.submit(
                            _post_chunk,
                            endpoint,
                            function,
                            in_cols,
                            out_cols,
                            pdf.iloc[lo : lo + batch_rows],
                        )
                    )
            while window:
                yield window.popleft().result()

    return df.mapInPandas(call, schema=out_schema)


def _post_chunk(
    endpoint: str,
    function: str,
    in_cols: list[str],
    out_cols: list[str],
    chunk,  # pd.DataFrame
):
    """POST one record batch, return the response as a pd.DataFrame.
    Thread-safe: it touches only its arguments, and urllib opens a
    fresh connection per call."""
    import urllib.error
    import urllib.request

    import pandas as pd

    payload = json.dumps(
        {
            "function": function,
            "columns": in_cols,
            "rows": chunk[in_cols].values.tolist(),
        }
    ).encode()
    req = urllib.request.Request(
        endpoint,
        data=payload,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            out = json.loads(resp.read())
    except (urllib.error.URLError, OSError) as e:
        raise RemoteFunctionError(
            f"remote function {function!r} at {endpoint} failed: {e}"
        ) from e
    rows = out["rows"]
    if len(rows) != len(chunk):
        raise RemoteFunctionError(
            f"remote function {function!r} returned {len(rows)}"
            f" rows for {len(chunk)} inputs"
        )
    return pd.DataFrame(rows, columns=out_cols)


def _schema_cols(schema: str) -> list[str]:
    return [part.strip().split()[0] for part in schema.split(",")]
