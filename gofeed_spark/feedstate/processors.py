"""Pluggable item processors (the reference's UDF surface) and the
Arrow-batched Spark map operator that runs them.

A processor is ``fn(item_id: str, data: str) -> ProcResult``.  Spark-side,
``process_items`` applies it with ``mapInPandas`` — one Python worker per
task, Arrow batch transfer, scaling with executor cores (the Spark twin of
the reference's worker-pool fan-out, watcher.go:67-77,186-192).  Errors are
returned as columns (error_msg, no_retry), NOT raised — the retry engine
(engine.apply_process_results) consumes them columnar, mirroring
item.go:27-38.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame

PROCESS_OUT_DDL = (
    "id string, next_gate int, complete boolean, new_data string, "
    "error_msg string, no_retry boolean"
)


@dataclass
class ProcResult:
    next_gate: int = 0
    complete: bool = False
    data: str = ""
    error_msg: str | None = None
    no_retry: bool = False


ProcessorFn = Callable[[str, str], ProcResult]


def json_times_processor(item_id: str, data: str) -> ProcResult:
    """Deterministic multi-step processor with the same contract as the
    reference's e2e test processor (watcher_test.go:72-86): payload
    ``{"times": n, "fail": bool?, "processed": int?, "gate": g?}``;
    each call increments ``processed``; complete when processed >= times;
    ``fail`` => retryable error; next gate is the payload's ``gate``."""
    try:
        d = json.loads(data)
    except (json.JSONDecodeError, TypeError) as e:
        return ProcResult(error_msg=f"bad payload: {e}", no_retry=True)
    if d.get("fail"):
        return ProcResult(error_msg="moving to failed item")
    d["processed"] = d.get("processed", 0) + 1
    return ProcResult(
        next_gate=int(d.get("gate", 0)),
        complete=d["processed"] >= int(d.get("times", 0)),
        data=json.dumps(d, sort_keys=True, separators=(",", ":")),
    )


def http_processor(
    target: str,
    transport: Callable[[str, bytes], tuple[int, bytes]] | None = None,
    timeout: float = 10.0,
) -> ProcessorFn:
    """Batched-HTTP map operator with the reference's error taxonomy
    (httprocessor/processor.go:62-86): POST the payload as JSON, decode
    ``{"gate": int, "complete": bool, "response": obj, "error":
    {"message": str, "no_retry": bool}}``.

    - app-level ``error`` -> error_msg (non-retryable iff ``no_retry``),
    - non-2xx status -> retryable error,
    - JSON decode failure -> retryable error (status in message).

    ``transport(url, body) -> (status_code, response_bytes)`` is injectable
    for tests; the default uses a per-worker urllib opener (one connection
    pool per executor process — never a driver loop).
    """

    def default_transport(url: str, body: bytes) -> tuple[int, bytes]:
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"}
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    tx = transport or default_transport

    def process(item_id: str, data: str) -> ProcResult:
        try:
            status, raw = tx(target, data.encode("utf-8"))
        except Exception as e:  # network-level: retryable
            return ProcResult(error_msg=f"transport error: {e}")
        try:
            obj = json.loads(raw.decode("utf-8"))
        except (json.JSONDecodeError, UnicodeDecodeError) as e:
            return ProcResult(error_msg=f"marshal error: {e}, from request with HTTP status: {status}")
        err = obj.get("error")
        if err:
            return ProcResult(
                error_msg=f"status {status}; message: {err.get('message', '')}",
                no_retry=bool(err.get("no_retry")),
            )
        if not (200 <= status < 300):
            return ProcResult(error_msg=f"HTTP status {status}")
        resp_data = obj.get("response") or {}
        return ProcResult(
            next_gate=int(obj.get("gate", 0)),
            complete=bool(obj.get("complete")),
            data=json.dumps(resp_data, sort_keys=True, separators=(",", ":")),
        )

    return process


def process_items(items: DataFrame, processor: ProcessorFn) -> DataFrame:
    """Run ``processor`` over (id, data) with mapInPandas; returns
    PROCESS_OUT_DDL rows (one per input item).  Pure map — no shuffle; the
    driver never sees item payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imported here, not at module level: the CDC poll imports this
        # package (feedstate.txlog) in a worker that has no pandas loaded
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("id", "next_gate", "complete", "new_data", "error_msg", "no_retry")}
            for item_id, data in zip(pdf["id"], pdf["data"]):
                r = processor(item_id, data)
                out["id"].append(item_id)
                out["next_gate"].append(r.next_gate)
                out["complete"].append(r.complete)
                out["new_data"].append(r.data)
                out["error_msg"].append(r.error_msg)
                out["no_retry"].append(r.no_retry)
            yield pd.DataFrame(out)

    return items.select("id", "data").mapInPandas(run, PROCESS_OUT_DDL)
