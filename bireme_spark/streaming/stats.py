"""Pipeline observability — the Spark twin of bireme's PipeLineStat
(codahale meters/timers, ``PipeLineStat.java``) and StateServer's
JSON state endpoint (``StateServer.java:120-210``).

Structured Streaming already emits per-batch progress; this listener
folds it into the same shape bireme reports (records/s, delay,
per-source totals) and ``state()`` renders the StateServer-style
snapshot dict (serve it over HTTP if needed — the engine itself
stays transport-agnostic)."""

from __future__ import annotations

import json
import threading
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


class PipelineStatListener(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._by_query: dict[str, dict[str, Any]] = {}

    # StreamingQueryListener contract
    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._by_query[str(event.id)] = {
                "name": event.name,
                "status": "running",
                "batches": 0,
                "total_rows": 0,
                "last_rows_per_sec": 0.0,
                "last_batch_ms": 0,
            }

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            st = self._by_query.setdefault(str(p.id), {"batches": 0, "total_rows": 0})
            st["batches"] += 1
            st["total_rows"] += p.numInputRows
            st["last_rows_per_sec"] = p.processedRowsPerSecond or 0.0
            st["last_batch_ms"] = (p.durationMs or {}).get("triggerExecution", 0)
            st["latest"] = p.timestamp
            st["status"] = "running"

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            st = self._by_query.setdefault(str(event.id), {})
            st["status"] = "error" if event.exception else "stopped"

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def state(self) -> dict[str, Any]:
        """StateServer-style snapshot of every pipeline."""
        with self._lock:
            return {"source": dict(self._by_query)}

    def state_json(self) -> str:
        return json.dumps(self.state(), default=str, indent=2)


def bireme_state(
    listener: PipelineStatListener, source_name: str = "spark", source_type: str = "kafka"
) -> dict[str, Any]:
    """Render the snapshot with the EXACT field names bireme's
    StateServer serves (``StateServer.java:194-216``: Source
    {source_name, type, pipelines[]}, Stat {name, latest, delay,
    state}) so a dashboard built against the reference's /state
    endpoint reads this engine without changes. ``delay`` is seconds
    like the reference (``delay / 1000.0``, StateServer.java:203);
    ``latest`` is the listener's last-progress wall time."""
    import datetime

    pipelines = []
    for st in listener.state()["source"].values():
        pipelines.append(
            {
                "name": st.get("name") or "pipeline",
                "latest": st.get("latest") or datetime.datetime.now(datetime.timezone.utc).isoformat(),
                "delay": float(st.get("last_batch_ms", 0)) / 1000.0,
                "state": st.get("status", "unknown"),
            }
        )
    return {"source_name": source_name, "type": source_type, "pipelines": pipelines}
