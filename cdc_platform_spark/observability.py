"""Observability: schema monitoring, progress/lag metrics, health.

Maps the reference's monitoring operators (SURVEY.md §2A M1-M5) onto
Spark's native instrumentation:

- M1 schema monitor: the reference polls Schema Registry versions and
  optionally halts the pipeline on incompatible changes
  (streaming/schema_monitor.py:16-138). Here drift is detected
  structurally per micro-batch: compare the batch schema against the
  pinned expected schema; ``mode='halt'`` raises (stopping the query —
  the ``query.stop()`` equivalent), ``mode='warn'`` records.
- M2/M3 lag + queue depth: Spark's StreamingQuery.lastProgress already
  carries per-source offsets, input rates, and batch durations — the
  metrics the reference computes by hand with an AdminClient
  (observability/metrics.py:23-143).
- M4 health: aggregate source/sink status like the reference's /readyz
  (pipeline/runner.py:390-416).
- M5 retry/backoff: deterministic exponential backoff with bounded
  attempts (sinks/webhook.py:80-91, wal/reader.py:25-26 1s->60s cap).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class SchemaDriftError(RuntimeError):
    pass


@dataclass
class SchemaMonitor:
    """Structural schema-drift detection per batch (M1).

    ``compatible`` drift = ADDED columns (pre-drift rows read them as
    null — the Iceberg additive-evolution posture VersionedTable enforces
    on write); dropped columns and type changes are incompatible.  Batch
    nullability is deliberately NOT consulted: Spark infers
    nullable=False for any batch that happens to contain no nulls (e.g.
    literals), so halting on it would be a false positive generator.
    """

    expected: T.StructType
    mode: str = "halt"  # halt | warn
    drift_log: list[dict] = field(default_factory=list)
    max_log = 1000  # drift_log cap: polled per micro-batch, must not grow unbounded

    def check(self, df: DataFrame) -> bool:
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in self.expected.fields}
        missing = {k: v for k, v in want.items() if k not in got}
        changed = {k: (want[k], got[k]) for k in want if k in got and got[k] != want[k]}
        added = {k: v for k, v in got.items() if k not in want}
        if not (missing or changed or added):
            return True
        incompatible = bool(missing or changed)
        record = {
            "ts_ms": int(time.time() * 1000),
            "missing": missing,
            "changed": changed,
            "added": added,
            "incompatible": incompatible,
        }
        self.drift_log.append(record)
        del self.drift_log[: -self.max_log]
        if incompatible and self.mode == "halt":
            raise SchemaDriftError(f"incompatible schema drift: {record}")
        return not incompatible


def progress_metrics(query) -> dict:
    """Lag/throughput snapshot from a StreamingQuery (M2/M3)."""
    p = query.lastProgress
    if p is None:
        return {"status": "no-progress"}
    return {
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "process_rows_per_second": p.get("processedRowsPerSecond"),
        "batch_duration_ms": p.get("batchDuration"),
        "sources": [
            {"description": s.get("description"), "start": s.get("startOffset"), "end": s.get("endOffset")}
            for s in p.get("sources", [])
        ],
    }


def health(
    queries: list,
    sinks: dict[str, object] | None = None,
    sink_status: dict[str, dict] | None = None,
) -> dict:
    """Aggregate readiness like the reference's /readyz (M4): any failed
    component -> not ready.  ``sink_status`` is
    ``CdcPipeline.sink_status``: a sink whose last write failed (its
    batch was quarantined) reports ``"error"`` until a later batch
    commits."""
    components = {}
    ready = True
    for q in queries:
        ok = q.isActive and q.exception() is None
        components[f"query:{q.name or q.id}"] = "ok" if ok else "error"
        ready &= ok
    for sink_id in (sinks or {}):
        ok = (sink_status or {}).get(sink_id, {}).get("ok", True)
        components[f"sink:{sink_id}"] = "ok" if ok else "error"
        ready &= ok
    return {"status": "ready" if ready else "unhealthy", "components": components}


def check_pipeline_health(spark, cfg, dlq_warn_depth: int = 1) -> dict:
    """Config-driven pre-flight probes (reference `cdc health`,
    observability/health.py:45-180): probe every component the pipeline
    depends on and aggregate worst-status, without starting the pipeline.

    Components by source type: parquet sources probe path readability and
    schema; kafka sources probe broker TCP reachability (no client library
    needed for liveness). Sink paths probe parent-directory writability;
    a configured DLQ reports its quarantine depth (unhealthy when
    non-empty past ``dlq_warn_depth`` — the reference treats a filling DLQ
    as a red flag)."""
    import os
    import socket

    components: list[dict] = []

    def add(name: str, ok: bool, detail: str) -> None:
        components.append(
            {"name": name, "status": "healthy" if ok else "unhealthy", "detail": detail}
        )

    src = cfg.source
    if src.type == "kafka":
        for server in (src.bootstrap_servers or "").split(","):
            server = server.strip()
            if not server:
                continue  # trailing comma must not probe a phantom broker
            # Address forms: '[v6]:port' / '[v6]' (bracketed), bare
            # unbracketed IPv6 ('::1' — multiple colons, NO port; must not
            # split into host='::' port='1'), and 'host[:port]'.  An empty
            # or non-numeric port part keeps the old behavior: default /
            # ValueError -> reported unhealthy.
            if server.startswith("[") and "]" in server:
                end = server.index("]")
                host = server[1:end]
                rest = server[end + 1 :]
                port = rest[1:] if rest.startswith(":") else ""
            elif server.count(":") > 1:
                host, port = server, ""  # bare IPv6 literal, no port
            else:
                host, _, port = server.partition(":")
            try:
                with socket.create_connection((host, int(port or 9092)), timeout=5):
                    add(f"kafka:{server}", True, "broker reachable")
            except (OSError, ValueError) as e:
                # ValueError: non-numeric port — report unhealthy, never crash
                add(f"kafka:{server}", False, str(e))
    else:
        try:
            n = len(
                [f for f in os.listdir(src.path) if not f.startswith((".", "_"))]
            ) if os.path.isdir(src.path) else (1 if os.path.exists(src.path) else 0)
            add("source:path", n > 0, f"{src.path}: {n} file(s)")
        except OSError as e:
            add("source:path", False, str(e))

    for sink in cfg.sinks:
        # sinks create their paths on first write; pre-flight checks the
        # nearest existing ancestor for writability
        probe = os.path.abspath(sink.path.rstrip("/"))
        while probe and not os.path.isdir(probe):
            parent = os.path.dirname(probe)
            if parent == probe:
                break
            probe = parent
        ok = os.path.isdir(probe) and os.access(probe, os.W_OK)
        add(f"sink:{sink.id}", ok, f"{probe} {'writable' if ok else 'not writable'}")

    if cfg.dlq_path is not None:
        has_files = os.path.isdir(cfg.dlq_path) and any(
            f.endswith(".parquet") for f in os.listdir(cfg.dlq_path)
        )
        if has_files:
            try:
                depth = spark.read.parquet(cfg.dlq_path).count()
                add("dlq", depth <= dlq_warn_depth, f"{depth} quarantined event(s)")
            except Exception as e:  # noqa: BLE001
                add("dlq", False, str(e))
        else:
            # missing OR empty (pre-provisioned / fully drained) directory:
            # nothing is quarantined, which is the healthy state
            add("dlq", True, "empty (no quarantined events)")

    healthy = all(c["status"] == "healthy" for c in components)
    return {
        "status": "healthy" if healthy else "unhealthy",
        "components": components,
    }


def retry_with_backoff(fn, max_attempts: int = 5, base_delay: float = 0.05, max_delay: float = 60.0):
    """Deterministic exponential backoff (M5): 1x, 2x, 4x ... capped."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:  # noqa: BLE001
            attempt += 1
            if attempt >= max_attempts:
                raise
            time.sleep(min(base_delay * (2 ** (attempt - 1)), max_delay))


class HealthServer:
    """HTTP liveness/readiness endpoints (reference observability/http_health.py
    semantics, re-expressed on the stdlib threading server — the reference's
    zero-dependency asyncio server fills the same role):

    - ``GET /healthz`` -> 200 always: the process is alive.
    - ``GET /readyz``  -> 200 if the status callable reports ``ready``,
      else 503 — any errored streaming query or sink flips the whole
      endpoint, matching the reference's aggregate-readiness contract
      (reference pipeline/runner.py:390-416).

    ``status_fn`` is typically
    ``lambda: health(queries, pipeline.sinks, sink_status=pipeline.sink_status)``.
    """

    def __init__(self, status_fn, host: str = "127.0.0.1", port: int = 0) -> None:
        self._status_fn = status_fn
        self._host = host
        self._port = port
        self._server = None
        self._thread = None

    def start(self) -> int:
        import http.server
        import json as _json
        import threading

        status_fn = self._status_fn

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib handler contract)
                if self.path == "/healthz":
                    code, body = 200, {"status": "alive"}
                elif self.path == "/readyz":
                    try:
                        body = status_fn()
                        code = 200 if body.get("status") == "ready" else 503
                    except Exception as exc:  # noqa: BLE001
                        code, body = 503, {"status": "unhealthy", "error": str(exc)}
                else:
                    code, body = 404, {"error": "not found"}
                payload = _json.dumps(body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *args):  # quiet
                pass

        self._server = http.server.ThreadingHTTPServer((self._host, self._port), Handler)
        self._port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._port

    @property
    def port(self) -> int:
        return self._port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=5)
            self._server = None


# ---------------------------------------------------------------------------
# Schema Registry client + polling monitor (M1, live-registry form)
# ---------------------------------------------------------------------------


class SchemaRegistryClient:
    """Minimal Confluent Schema Registry REST client (stdlib urllib; the
    container has no httpx). Covers the three endpoints the reference
    consumer/monitor use (reference streaming/schema_monitor.py:57-123,
    streaming/consumer.py:97-110): latest subject version, compatibility
    check, and schema-by-id lookup."""

    def __init__(self, registry_url: str, timeout: float = 5.0):
        self.url = registry_url.rstrip("/")
        self.timeout = timeout

    def _get(self, path: str) -> dict | None:
        import json as _json
        import urllib.error
        import urllib.request

        try:
            with urllib.request.urlopen(self.url + path, timeout=self.timeout) as r:
                return _json.loads(r.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def latest_version(self, subject: str) -> dict | None:
        """{'version': int, 'id': int, 'schema': str} or None when absent."""
        return self._get(f"/subjects/{subject}/versions/latest")

    def subjects(self) -> list[str]:
        """All registered subject names ([] when none/unsupported)."""
        data = self._get("/subjects")
        return list(data) if isinstance(data, list) else []

    def versions(self, subject: str) -> list[int]:
        """All registered version numbers for a subject ([] when absent)."""
        data = self._get(f"/subjects/{subject}/versions")
        return list(data) if isinstance(data, list) else []

    def version(self, subject: str, version: int) -> dict | None:
        """{'version': int, 'id': int, 'schema': str} or None when absent."""
        return self._get(f"/subjects/{subject}/versions/{version}")

    def schema_by_id(self, schema_id: int) -> str | None:
        data = self._get(f"/schemas/ids/{schema_id}")
        return None if data is None else data.get("schema")

    def check_compatibility(
        self, subject: str, schema_str: str, version: int | str = "latest"
    ) -> bool:
        """POST /compatibility/... — is ``schema_str`` a compatible NEW
        version against the subject's ``version``?  Registry-unreachable
        degrades to True, matching the reference's permissive posture on
        check failure."""
        import json as _json
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            f"{self.url}/compatibility/subjects/{subject}/versions/{version}",
            data=_json.dumps({"schema": schema_str}).encode("utf-8"),
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                import json as _json2

                return bool(_json2.loads(r.read().decode("utf-8")).get("is_compatible", True))
        except Exception:  # noqa: BLE001 — reference returns True on check failure
            return True


class SchemaRegistryMonitor:
    """Live-registry schema monitor (M1): polls ``{topic}-key/-value``
    subjects for version bumps and classifies them via the registry's
    ``/compatibility`` endpoint — the halt/warn semantics shared with the
    structural ``SchemaMonitor`` above (reference
    streaming/schema_monitor.py:16-138).

    ``poll_once`` is the unit of work (call it from any scheduler);
    ``start``/``stop`` run it on a daemon thread like the reference's
    asyncio task. On an incompatible bump: ``incompatible_detected`` is
    latched, ``on_incompatible`` fires (e.g. ``query.stop``), and in
    ``halt`` mode the *next* ``ensure_compatible()`` raises
    ``SchemaDriftError`` — the hook the pipeline checks per micro-batch.
    """

    MAX_EVENTS = 1000  # polled per micro-batch: the log must not grow unbounded

    def __init__(
        self,
        registry_url: str,
        topics: list[str],
        mode: str = "halt",  # halt | warn
        on_incompatible=None,
        client: SchemaRegistryClient | None = None,
        topic_pattern: str | None = None,
    ):
        self.client = client or SchemaRegistryClient(registry_url)
        self.topics = list(topics)
        # pattern-subscribed pipelines have no static topic list; the
        # monitor expands the pattern against the registry's subjects on
        # every poll, so newly-created matching topics are picked up too
        self.topic_pattern = topic_pattern
        self.mode = mode
        self.on_incompatible = on_incompatible
        self.known_versions: dict[str, int] = {}
        self.known_schemas: dict[str, str] = {}
        self.incompatible_detected = False
        self.events: list[dict] = []
        self._thread = None
        self._stop_flag = None

    def _subjects(self, new_events: list[dict]) -> list[str]:
        subjects = [f"{t}{sfx}" for t in self.topics for sfx in ("-key", "-value")]
        if self.topic_pattern:
            import re

            try:
                pat = re.compile(self.topic_pattern)
                for s in self.client.subjects():
                    for sfx in ("-key", "-value"):
                        if (
                            s.endswith(sfx)
                            and pat.fullmatch(s[: -len(sfx)])
                            and s not in subjects
                        ):
                            subjects.append(s)
            except Exception as exc:  # noqa: BLE001 — unreachable registry is a warn
                new_events.append(
                    {"subject": self.topic_pattern, "kind": "check_failed", "error": str(exc)}
                )
        return subjects

    def poll_once(self) -> list[dict]:
        """Check every subject once; returns the change events observed."""
        new_events: list[dict] = []
        for subject in self._subjects(new_events):
            try:
                data = self.client.latest_version(subject)
            except Exception as exc:  # noqa: BLE001 — unreachable registry is a warn
                new_events.append(
                    {"subject": subject, "kind": "check_failed", "error": str(exc)}
                )
                continue
            if data is None:
                continue
            version, schema_str = data["version"], data.get("schema", "")
            prev = self.known_versions.get(subject)
            if prev is None:
                self.known_versions[subject] = version
                self.known_schemas[subject] = schema_str
            elif version != prev:
                # Direction matters: ask whether the NEW schema is a
                # compatible evolution AGAINST THE VERSION WE CONSUME.
                # Posting the old schema against latest answered "can an
                # old reader ignore the new fields" — true even for
                # breaking changes like a new required field.
                compatible = True
                if schema_str:
                    compatible = self.client.check_compatibility(
                        subject, schema_str, version=prev
                    )
                new_events.append(
                    {
                        "subject": subject,
                        "kind": "version_changed",
                        "previous_version": prev,
                        "new_version": version,
                        "schema_id": data.get("id"),
                        "compatible": compatible,
                    }
                )
                if not compatible:
                    self.incompatible_detected = True
                    if self.on_incompatible is not None:
                        self.on_incompatible()
                self.known_versions[subject] = version
                self.known_schemas[subject] = schema_str
        self.events.extend(new_events)
        del self.events[: -self.MAX_EVENTS]
        return new_events

    def ensure_compatible(self) -> None:
        """Per-micro-batch gate: raise in halt mode once an incompatible
        version bump has been observed."""
        if self.incompatible_detected and self.mode == "halt":
            raise SchemaDriftError(
                f"incompatible registry schema change: {self.events[-5:]}"
            )

    def start(self, interval: float = 30.0) -> None:
        import threading

        self._stop_flag = threading.Event()

        def loop():
            while not self._stop_flag.wait(interval):
                self.poll_once()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._stop_flag is not None:
            self._stop_flag.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
