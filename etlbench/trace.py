"""Traced run: spans around every call into the engine's layers, timed
from outside the program.

The tracer wraps public functions and methods of the engine's modules
at run time (nothing under ``kafkaconnect_spark/`` changes) and keeps
one span per call — name, start, end, parent and the tick id the
workload was on — in memory. Spark jobs are attributed to spans by job
group: each span sets ``spark.jobGroup.id`` to its own id while it
runs. At the end of the run it reads

- the spans (self time per layer = span time minus covered children),
- a ``StreamingQueryListener``'s per-trigger durations,
- the UI REST API's jobs and stages (job, gap, task and CPU time),
- counters taken at the layer boundaries (topic offsets, sink row
  triggers, index drop reports and table row counts),

and turns them into the per-layer metrics of ``BENCHMARK.json``. The
serde layers build lazy column expressions, so they are timed by
probes on the workload's own records with a noop write instead.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import os
import threading
import time
import urllib.request

LAYERS = (
    "streaming.engine",
    "sources.topics",
    "sources.jdbc_poller",
    "functions.registry_rest",
    "operators.transforms",
    "operators.upsert",
    "operators.hamming_index",
    "operators.lsh_index",
    "operators.pq_index",
)
INDEX_TABLE = {"hamming_index": "hashes", "lsh_index": "shingles", "pq_index": "codes"}
GROUP_PREFIX = "etlbench:"


def rest_time(s: str) -> float:
    """UI REST timestamps look like 2026-08-17T12:34:56.789GMT."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def job_gaps(jobs: list[dict]) -> tuple[float, float]:
    """(summed job time, summed gap between consecutive jobs) of jobs
    ``{"start", "end"}`` in submission order — the job-gap math of
    tools/probe_query_jobs.py, with overlapping (concurrent) jobs
    counting no gap."""
    rows = sorted(jobs, key=lambda j: j["start"])
    busy = sum(j["end"] - j["start"] for j in rows)
    gaps = sum(max(0.0, b["start"] - a["end"]) for a, b in zip(rows, rows[1:]))
    return busy, gaps


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def _rows_in(index_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    with open(os.path.join(index_dir, "MANIFEST.json")) as fh:
        version = json.load(fh)["version"]
    files = glob.glob(os.path.join(index_dir, table, f"v{version}", "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _report_dirs(index_dir: str) -> set[str]:
    root = os.path.join(index_dir, "reports")
    return set(os.listdir(root)) if os.path.isdir(root) else set()


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.active = False
        self.window_wall: list[float] = []
        self.window_perf: list[float] = []
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.lock = threading.Lock()
        self.tick_id: int | None = None
        self.tick_docs: set[int] = set()
        self.tick_drops = 0
        self.counts: dict[str, float] = {}
        self.probes: dict[str, float] = {}
        self.sinks: dict[str, object] = {}  # table → connection factory
        self.progress: list[dict] = []
        self.topic_records: dict[str, int] = {}
        self._patch()
        self._listen()

    # ---- span recording -------------------------------------------------
    def _span(self, name: str, fn, *args, **kw):
        if not self.active:
            return fn(*args, **kw)
        with self.lock:
            sid = len(self.spans)
            parent = self.stack[-1] if self.stack else None
            span = {"id": sid, "name": name, "parent": parent, "tick": self.tick_id}
            self.spans.append(span)
            self.stack.append(sid)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        self.sc.setLocalProperty("spark.job.description", name)
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            span["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self.lock:
                self.stack.pop()

    def _wrap_method(self, cls, attr: str, name: str, after=None):
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            out = tracer._span(name, orig, *args, **kw)
            if after is not None and tracer.active:
                after(out, *args, **kw)
            return out

        setattr(cls, attr, wrapper)

    def _patch(self) -> None:
        from kafkaconnect_spark.functions import registry_rest
        from kafkaconnect_spark.operators import hamming_index, lsh_index, pq_index
        from kafkaconnect_spark.operators.upsert import JdbcSinkWriter
        from kafkaconnect_spark.sources.jdbc_poller import IncrementalPoller
        from kafkaconnect_spark.sources.topics import TopicTransport
        from kafkaconnect_spark.streaming import engine

        self._wrap_method(engine.Engine, "run_once", "streaming.engine.run_once", self._after_run_once)
        self._wrap_method(engine.Engine, "_drain_stream", "streaming.engine.drain")
        self._wrap_transport(TopicTransport)
        self._wrap_method(IncrementalPoller, "poll", "sources.jdbc_poller.poll")
        self._wrap_method(registry_rest, "registry_for_url", "functions.registry_rest.lookup")
        self._wrap_method(JdbcSinkWriter, "process_batch", "operators.upsert.process_batch")
        self._wrap_sink_tables(JdbcSinkWriter)

        orig_chain = engine.build_transform_chain

        def build_chain(specs):
            chain = orig_chain(specs)
            return lambda df: self._span("operators.transforms.chain", chain, df)

        engine.build_transform_chain = build_chain
        for mod, factory in (
            (hamming_index, "streaming_fingerprint_dedup_transform"),
            (lsh_index, "streaming_dedup_transform"),
            (pq_index, "streaming_semdedup_transform"),
        ):
            self._wrap_index(mod, factory)

    def _after_run_once(self, moved, eng, *args, **kw) -> None:
        self.engine = eng
        for name, rows in moved.items():
            if eng.pipelines[name].spec.kind == "jdbc-source":
                self._count("sources.jdbc_poller.rows_polled", rows)

    def _count(self, key: str, n: float) -> None:
        with self.lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def _wrap_transport(self, cls) -> None:
        """Records appended = growth of the file transport's per-topic
        offset counters across the call."""
        orig = cls.append
        tracer = self

        def offsets(transport) -> dict[str, int]:
            root = transport.servers[len("file://"):]
            out = {}
            for meta in glob.glob(os.path.join(root, "*", "meta.json")):
                with open(meta) as fh:
                    out[os.path.basename(os.path.dirname(meta))] = int(
                        json.load(fh).get("next_offset", 0)
                    )
            return out

        @functools.wraps(orig)
        def append(transport, *args, **kw):
            if not tracer.active:
                return orig(transport, *args, **kw)
            before = offsets(transport)
            out = tracer._span("sources.topics.append", orig, transport, *args, **kw)
            for topic, n in offsets(transport).items():
                grown = n - before.get(topic, 0)
                tracer.topic_records[topic] = tracer.topic_records.get(topic, 0) + grown
                tracer._count("sources.topics.records_appended", grown)
            return out

        cls.append = append

    def _wrap_sink_tables(self, cls) -> None:
        """Count rows the sink really wrote with SQLite triggers on its
        table (executor-side writes happen in worker processes, out of
        reach of a driver-side wrapper)."""
        orig = cls.ensure_table
        tracer = self

        @functools.wraps(orig)
        def ensure_table(writer, *args, **kw):
            out = orig(writer, *args, **kw)
            if writer.dialect.name == "sqlite" and writer.table not in tracer.sinks:
                tracer.sinks[writer.table] = writer.connect
                conn = writer.connect()
                try:
                    t = writer.dialect.q(writer.table)
                    conn.execute(
                        "CREATE TABLE IF NOT EXISTS etlbench_counts (kind TEXT PRIMARY KEY, n INTEGER)"
                    )
                    for kind, event in (("ins", "INSERT"), ("upd", "UPDATE")):
                        conn.execute(
                            "INSERT OR IGNORE INTO etlbench_counts VALUES (?, 0)", (kind,)
                        )
                        conn.execute(
                            f"CREATE TRIGGER IF NOT EXISTS etlbench_{kind} AFTER {event} ON {t} "
                            f"BEGIN UPDATE etlbench_counts SET n = n + 1 WHERE kind = '{kind}'; END"
                        )
                    conn.commit()
                finally:
                    conn.close()
            return out

        cls.ensure_table = ensure_table

    def _sink_snapshot(self) -> dict:
        snap = {}
        for table, connect in self.sinks.items():
            conn = connect()
            try:
                snap[table] = dict(conn.execute("SELECT kind, n FROM etlbench_counts"))
            finally:
                conn.close()
        return snap

    def _wrap_index(self, mod, factory: str) -> None:
        orig = getattr(mod, factory)
        short = mod.__name__.rsplit(".", 1)[-1]
        layer = f"operators.{short}"
        tracer = self

        @functools.wraps(orig)
        def make(index_dir, *args, **kw):
            smt = orig(index_dir, *args, **kw)

            def apply(records):
                if not tracer.active:
                    return smt(records)
                reports = _report_dirs(index_dir)
                rows = _rows_in(index_dir, INDEX_TABLE[short])
                docs_in = len(tracer.tick_docs) - tracer.tick_drops
                out = tracer._span(f"{layer}.smt", smt, records)
                within = corpus = 0
                import pyarrow.parquet as pq

                for d in _report_dirs(index_dir) - reports:
                    tab = pq.read_table(os.path.join(index_dir, "reports", d))
                    pairs = zip(tab.column(0).to_pylist(), tab.column(1).to_pylist())
                    hits: dict = {}
                    for new, mate in pairs:
                        hits[new] = hits.get(new, False) or mate in tracer.tick_docs
                    within += sum(hits.values())
                    corpus += len(hits) - sum(hits.values())
                tracer.tick_drops += within + corpus
                tracer._count(f"{layer}.within_batch_drops", within)
                tracer._count(f"{layer}.corpus_drops", corpus)
                tracer._count(f"{layer}.docs_in", docs_in)
                tracer._count(f"{layer}.appended", _rows_in(index_dir, INDEX_TABLE[short]) - rows)
                return out

            return apply

        setattr(mod, factory, make)

    # ---- streaming listener -----------------------------------------------
    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {"wall": rest_time(p.timestamp.replace("Z", "GMT")), "dur": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()
        self.spark.streams.addListener(self.listener)

    # ---- hooks the workloads call ---------------------------------------------
    def window(self, start: bool) -> None:
        if start:
            self.sink_start = self._sink_snapshot()
            self.window_wall = [time.time()]
            self.window_perf = [time.perf_counter()]
            self.active = True
        else:
            self.active = False
            self.window_wall.append(time.time())
            self.window_perf.append(time.perf_counter())
            self.sink_end = self._sink_snapshot()

    def tick(self, tick_id: int, docs: list[int] | None = None) -> None:
        self.tick_id = tick_id
        self.tick_docs = set(docs or ())
        self.tick_drops = 0

    # ---- probes: serde and chain execution on the workload's records --------
    def probe(self, spark, eng, plan: dict) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from kafkaconnect_spark.functions.serde import json_deserialize, json_serialize

        def per_krec(df, n: int) -> float:
            best = []
            for _ in range(3):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best.append(time.perf_counter() - t)
            return sorted(best)[1] * 1000.0 / (n / 1000.0)

        if "json_topic" in plan:
            raw = eng.transport.read_batch([plan["json_topic"]]).where(F.col("value").isNotNull())
            raw = raw.select("value").persist()
            n = raw.count()
            schema = T._parse_datatype_string(plan["json_schema"])
            # time decoding before the decoded cache exists: the cache
            # would otherwise answer the same plan
            self.probes["functions.serde.json_de_ms_per_krec"] = per_krec(
                raw.select(json_deserialize("value", schema).alias("v")), n
            )
            parsed = raw.select(json_deserialize("value", schema).alias("value")).persist()
            parsed.count()
            self.probes["functions.serde.json_ser_ms_per_krec"] = per_krec(
                parsed.select(json_serialize("value", schema).alias("j")), n
            )
            if plan.get("chain_pipeline"):
                records = parsed.withColumn("topic", F.lit(plan["json_topic"]))
                self._probe_chain(eng, plan["chain_pipeline"], records, n, per_krec)
            raw.unpersist()
            parsed.unpersist()
        if "avro_topic" in plan:
            from kafkaconnect_spark.functions.avro_wire import (
                avro_deserialize_udf,
                avro_serialize_udf,
                spark_schema_for,
            )
            from kafkaconnect_spark.functions.registry_rest import registry_for_url

            cfg = eng.pipelines[plan["avro_pipeline"]].spec.config
            url = str(cfg["value.converter.schema.registry.url"])
            sid, avro = registry_for_url(url).latest(f"{plan['avro_topic']}-value")
            schema = spark_schema_for(avro)
            raw = eng.transport.read_batch([plan["avro_topic"]]).select("value").persist()
            n = raw.count()
            de = avro_deserialize_udf(schema, avro, expected_id=sid)
            self.probes["functions.avro_wire.de_ms_per_krec"] = per_krec(
                raw.select(de(F.unbase64("value")).alias("v")), n
            )
            parsed = raw.select(de(F.unbase64("value")).alias("value")).persist()
            parsed.count()
            self.probes["functions.avro_wire.ser_ms_per_krec"] = per_krec(
                parsed.select(avro_serialize_udf(avro, sid)(F.col("value")).alias("b")), n
            )
            raw.unpersist()
            parsed.unpersist()
        if "chain_input" in plan:
            src = spark.read.parquet(plan["chain_input"])
            records = src.select(
                F.struct(*[F.col(c) for c in src.columns]).alias("value")
            ).withColumn("topic", F.lit("probe")).persist()
            n = records.count()
            self._probe_chain(eng, plan["chain_pipeline"], records, n, per_krec)
            records.unpersist()

    def _probe_chain(self, eng, pipeline: str, records, n: int, per_krec) -> None:
        """Execute the pipeline's standard SMTs (index SMTs mutate their
        index, so they are measured by their spans only)."""
        from kafkaconnect_spark.operators import transforms

        specs = [
            t for t in eng.pipelines[pipeline].spec.transforms
            if not t.short_type.endswith("Index")
        ]
        if specs:
            chain = transforms.build_transform_chain(specs)
            self.probes["operators.transforms.exec_ms_per_krec"] = per_krec(chain(records), n)

    # ---- end of run -------------------------------------------------------------
    def _rest(self, path: str):
        base = self.sc.uiWebUrl
        url = f"{base}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.loads(r.read().decode())

    def spark_jobs(self) -> list[dict]:
        """Jobs submitted inside the window, with their stage totals,
        from the UI REST API (the stage fetch of the catalog bench's
        stage-metrics pass)."""
        w0, w1 = self.window_wall
        stages: dict[int, dict] = {}
        for s in self._rest("/stages?details=false"):
            agg = stages.setdefault(
                s["stageId"], {"task_s": 0.0, "cpu_s": 0.0, "shuffle": 0, "spill": 0}
            )
            agg["task_s"] += (s.get("executorRunTime") or 0) / 1000.0
            agg["cpu_s"] += (s.get("executorCpuTime") or 0) / 1e9
            agg["shuffle"] += s.get("shuffleWriteBytes") or 0
            agg["spill"] += (s.get("memoryBytesSpilled") or 0) + (s.get("diskBytesSpilled") or 0)
        jobs = []
        for j in self._rest("/jobs"):
            if not j.get("completionTime"):
                continue
            start, end = rest_time(j["submissionTime"]), rest_time(j["completionTime"])
            if not (w0 <= start <= w1):
                continue
            group = j.get("jobGroup") or ""
            span = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
            job = {"id": j["jobId"], "start": start, "end": end, "span": span}
            for k in ("task_s", "cpu_s", "shuffle", "spill"):
                job[k] = sum(stages.get(sid, {}).get(k, 0) for sid in j.get("stageIds", []))
            jobs.append(job)
        return jobs

    def _summary(self, spans, self_t, per_span, wall) -> dict:
        """Per span name: calls, time, self time and the Spark jobs the
        spans ran — the rows of the trace report."""
        rows: dict[str, dict] = {}
        for s in spans:
            r = rows.setdefault(
                s["name"],
                {"calls": 0, "ms": 0.0, "self_ms": 0.0, "jobs": 0, "job_s": 0.0,
                 "gap_s": 0.0, "task_s": 0.0, "cpu_s": 0.0},
            )
            own = per_span.get(s["id"], [])
            busy, gaps = job_gaps(own)
            r["calls"] += 1
            r["ms"] += (s["end"] - s["start"]) * 1000.0
            r["self_ms"] += self_t[s["id"]] * 1000.0
            r["jobs"] += len(own)
            r["job_s"] += busy
            r["gap_s"] += gaps
            r["task_s"] += sum(j["task_s"] for j in own)
            r["cpu_s"] += sum(j["cpu_s"] for j in own)
        return {"window_s": wall, "layers_self_ms": self.layer_self, "spans": rows}

    @staticmethod
    def span_jobs(jobs: list[dict]) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for j in jobs:
            if j["span"] is not None:
                out.setdefault(j["span"], []).append(j)
        return out

    def finish(self, e2e: dict, mem: dict) -> dict:
        """Per-layer metrics of the traced run, keyed as in BENCHMARK.json."""
        # the listener's events arrive asynchronously: wait until quiet
        n = -1
        for _ in range(40):
            if len(self.progress) == n:
                break
            n = len(self.progress)
            time.sleep(0.25)
        self.spark.streams.removeListener(self.listener)
        jobs = self.spark_jobs()
        self.jobs = jobs
        spans = [s for s in self.spans if "end" in s]
        self_t = self_times(spans)
        wall = self.window_perf[1] - self.window_perf[0]

        out: dict[str, tuple[float, str]] = {}

        def put(name: str, value: float, unit: str) -> None:
            out[name] = (value, unit)

        def span_ms(name: str) -> float:
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name) * 1000.0

        def n_spans(name: str) -> int:
            return sum(1 for s in spans if s["name"] == name)

        layer_self = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            layer_self[s["name"].rsplit(".", 1)[0]] += self_t[s["id"]] * 1000.0
        self.layer_self = layer_self

        w0, w1 = self.window_wall
        prog = [p for p in self.progress if w0 <= p["wall"] <= w1]
        dur = {}
        for key in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                    "commitOffsets", "latestOffset", "getBatch"):
            dur[key] = float(sum(p["dur"].get(key, 0) for p in prog))
        eng = "streaming.engine"
        put(f"{eng}.run_once_ms", span_ms(f"{eng}.run_once"), "ms")
        put(f"{eng}.microbatches", len(prog), "count")
        put(f"{eng}.trigger_ms", dur["triggerExecution"], "ms")
        put(f"{eng}.add_batch_ms", dur["addBatch"], "ms")
        put(f"{eng}.query_planning_ms", dur["queryPlanning"], "ms")
        put(f"{eng}.wal_commit_ms", dur["walCommit"], "ms")
        put(f"{eng}.commit_offsets_ms", dur["commitOffsets"], "ms")
        put(f"{eng}.latest_offset_ms", dur["latestOffset"], "ms")
        put(f"{eng}.get_batch_ms", dur["getBatch"], "ms")
        put(f"{eng}.overhead_ms", dur["triggerExecution"] - dur["addBatch"], "ms")
        put(f"{eng}.self_ms", layer_self[eng], "ms")

        top = "sources.topics"
        put(f"{top}.append_ms", span_ms(f"{top}.append"), "ms")
        put(f"{top}.appends", n_spans(f"{top}.append"), "count")
        put(f"{top}.records_appended", self.counts.get(f"{top}.records_appended", 0), "count")
        put(f"{top}.self_ms", layer_self[top], "ms")

        pol = "sources.jdbc_poller"
        put(f"{pol}.poll_ms", span_ms(f"{pol}.poll"), "ms")
        put(f"{pol}.polls", n_spans(f"{pol}.poll"), "count")
        put(f"{pol}.rows_polled", self.counts.get(f"{pol}.rows_polled", 0), "count")
        put(f"{pol}.self_ms", layer_self[pol], "ms")

        for key in ("functions.serde.json_ser_ms_per_krec", "functions.serde.json_de_ms_per_krec",
                    "functions.avro_wire.ser_ms_per_krec", "functions.avro_wire.de_ms_per_krec"):
            put(key, self.probes.get(key, 0.0), "ms/krec")
        reg = "functions.registry_rest"
        put(f"{reg}.lookups", n_spans(f"{reg}.lookup"), "count")
        put(f"{reg}.lookup_ms", span_ms(f"{reg}.lookup"), "ms")

        tr = "operators.transforms"
        put(f"{tr}.chain_ms", span_ms(f"{tr}.chain"), "ms")
        put(f"{tr}.exec_ms_per_krec", self.probes.get(f"{tr}.exec_ms_per_krec", 0.0), "ms/krec")
        put(f"{tr}.self_ms", layer_self[tr], "ms")

        up = "operators.upsert"
        ins = upd = 0
        for table, end in self.sink_end.items():
            start = self.sink_start.get(table, {})
            ins += end["ins"] - start.get("ins", 0)
            upd += end["upd"] - start.get("upd", 0)
        sink_topics = [
            p.spec.config["topics"]
            for p in self.engine.pipelines.values()
            if p.spec.kind == "jdbc-sink"
        ]
        # progress numInputRows counts every re-read of a batch inside
        # foreachBatch, so records in come from the topics' offsets
        sink_in = sum(self.topic_records.get(t, 0) for t in sink_topics)
        put(f"{up}.process_batch_ms", span_ms(f"{up}.process_batch"), "ms")
        put(f"{up}.rows_upserted", ins + upd, "count")
        put(f"{up}.collapse_ratio", (ins + upd) / sink_in if sink_in else 0.0, "ratio")
        put(f"{up}.self_ms", layer_self[up], "ms")

        per_span = self.span_jobs(jobs)
        for short in INDEX_TABLE:
            lay = f"operators.{short}"
            ids = [s["id"] for s in spans if s["name"] == f"{lay}.smt"]
            own = [j for i in ids for j in per_span.get(i, [])]
            gaps = sum(job_gaps(per_span.get(i, []))[1] for i in ids)
            drops = self.counts.get(f"{lay}.within_batch_drops", 0) + self.counts.get(
                f"{lay}.corpus_drops", 0
            )
            docs_in = self.counts.get(f"{lay}.docs_in", 0)
            put(f"{lay}.smt_ms", span_ms(f"{lay}.smt"), "ms")
            put(f"{lay}.jobs", len(own), "count")
            put(f"{lay}.gap_ms", gaps * 1000.0, "ms")
            put(f"{lay}.within_batch_drops", self.counts.get(f"{lay}.within_batch_drops", 0), "count")
            put(f"{lay}.corpus_drops", self.counts.get(f"{lay}.corpus_drops", 0), "count")
            put(f"{lay}.appended", self.counts.get(f"{lay}.appended", 0), "count")
            put(f"{lay}.drop_ratio", drops / docs_in if docs_in else 0.0, "ratio")
            put(f"{lay}.self_ms", layer_self[lay], "ms")

        busy, gaps = job_gaps(jobs)
        task_s = sum(j["task_s"] for j in jobs)
        put("spark.jobs", len(jobs), "count")
        put("spark.job_s", busy, "s")
        put("spark.gap_s", gaps, "s")
        put("spark.task_s", task_s, "s")
        put("spark.cpu_s", sum(j["cpu_s"] for j in jobs), "s")
        put("spark.eff_parallelism", task_s / wall, "ratio")
        put("spark.shuffle_bytes", sum(j["shuffle"] for j in jobs), "B")
        put("spark.spill_bytes", sum(j["spill"] for j in jobs), "B")
        for part, mb in mem.items():
            put(f"memory.{part}", mb, "MB")

        self.summary = self._summary(spans, self_t, per_span, wall)
        put("trace.spans", len(spans), "count")
        from etlbench.run import END_TO_END

        for k, v in e2e.items():
            put(f"trace.{k}", v, END_TO_END[k])
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
