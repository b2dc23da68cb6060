"""The benchmark's recording transport and its send log.

``RecordingTransport`` stands in for a destination API. It runs inside the
Python workers, so it is pickled with the sink closure and must be
importable there (``run.py`` puts the checkout on the workers' path). Each
task writes one JSON line per send attempt to its own file under
``log_dir``; the benchmark process reads them after the run. Times are
``time.monotonic()``, one clock for that process and every worker.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from typing import Any, Iterable

from megalista_spark.sinks.transports import Transport, TransportError

from perfbench.reference import payload_digest
from perfbench.stats import attempts_per_chunk

RETRY_EVERY = 10
REJECT_BELOW = 3  # first SHA-256 byte of the key below this → rejected (~1.2%)


def rejected_by_key(key: str) -> bool:
    """The destination's deterministic per-row rejection rule."""
    return hashlib.sha256(key.encode("utf-8")).digest()[0] < REJECT_BELOW


def fails_first_attempt(partition_id: int, chunk_index: int) -> bool:
    """Every 10th chunk of a partition fails its first attempt. The phase is
    shifted by the partition id, and chunk 1 of partition 0 always fails, so
    every run exercises the retry path whatever the partition layout."""
    return (chunk_index - 1 + partition_id) % RETRY_EVERY == 0


class RecordingTransport(Transport):
    def __init__(self, branch: str, log_dir: str, reject_key: str | None = None,
                 inject_retries: bool = False):
        self.branch = branch
        self.log_dir = log_dir
        self.reject_key = reject_key
        self.inject_retries = inject_retries

    def open(self, context: dict[str, Any]) -> None:
        name = f"{self.branch}-{context.get('partition_id')}-{uuid.uuid4().hex}.jsonl"
        self._log = open(os.path.join(self.log_dir, name), "w", encoding="utf-8")
        self._attempts: dict[int, int] = {}

    def close(self, context: dict[str, Any]) -> None:
        self._log.close()

    def send(self, payload: list[dict], context: dict[str, Any]) -> list[dict]:
        t0 = time.monotonic()
        pid, chunk = context["partition_id"], context["chunk_index"]
        attempt = self._attempts[chunk] = self._attempts.get(chunk, 0) + 1
        record = {"b": self.branch, "p": pid, "c": chunk, "a": attempt, "n": len(payload)}
        if self.inject_retries and attempt == 1 and fails_first_attempt(pid, chunk):
            record.update(ok=False, acc=0, d="0", t0=t0, t1=time.monotonic())
            self._write(record)
            raise TransportError(f"injected failure of chunk {pid}/{chunk}")
        if self.reject_key is None:
            accepted = payload
        else:
            accepted = [r for r in payload if not rejected_by_key(r[self.reject_key])]
        record.update(ok=True, acc=len(accepted), d=str(payload_digest(accepted)),
                      t0=t0, t1=time.monotonic())
        self._write(record)
        return accepted

    def _write(self, record: dict) -> None:
        self._log.write(json.dumps(record) + "\n")
        self._log.flush()


def read_send_log(log_dir: str) -> list[dict]:
    sends = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            sends.extend(json.loads(line) for line in fh if line.strip())
    return sends


def send_summary(sends: Iterable[dict]) -> dict[str, float]:
    """The transports.* layer metrics of one run's send log."""
    sends = list(sends)
    ok = [s for s in sends if s["ok"]]
    return {
        "send_calls": len(sends),
        "send_busy_s": sum(s["t1"] - s["t0"] for s in sends),
        "rows_sent": sum(s["n"] for s in sends),
        "rows_accepted": sum(s["acc"] for s in ok),
        "rows_rejected": sum(s["n"] - s["acc"] for s in ok),
        "retries": sum(1 for s in sends if s["a"] > 1),
        "attempts_per_chunk": attempts_per_chunk(sends),
    }
