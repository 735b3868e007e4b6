"""The two workloads, their set-up, and their metrics.

Load shape for both: one Python process, Spark ``local[4]``, one
closed-loop client (each call waits for its reply; no client threads).

``search``: a seeded stream of BM25 top-k queries. Three of every four go
to a tombstone-free index (the broadcast-sidecar fast path); every fourth
goes to the same corpus after one upsert batch (the tombstone join path).
Every fifth op opens a fresh reader first. Both indexes are built in
set-up (the second one through ``upsert_index``) and cached on disk.

``build``: cycles of index writes over the fixed corpus: a plain build,
then a positional build. After each build, fresh readers answer probe
queries.

Every answer is compared with ``oracle.engine.score_query`` over the live
corpus; every build's lineage row counts with the cached reference build.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import time
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from aether_elasticsearch_consumer_spark.oracle.engine import score_query

from . import inputs
from . import oracle as orc
from .eventlog import layer_totals, parse
from .trace import Tracer

CORES = 4
SETUP_REPEATS = 3
SEARCH_LIVE_EVERY = 4      # every 4th search op goes to the tombstoned index
SEARCH_REOPEN_EVERY = 5    # every 5th search op opens a fresh reader
BUILD_REOPENS = 3          # fresh readers (open + first query) after each build
STAGES = ("docs", "doclens", "stats", "postings", "term_stats")
QUERY_POOL = 2_000


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    v = sorted(values)
    return v[max(0, -(-len(v) * q // 100) - 1)] if v else float("nan")


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def source_key(root: Path) -> str:
    """Hash of the package source and of the benchmark files that shape the
    cached inputs: caches built by one commit are never reused by another."""
    pkg = root / "aether_elasticsearch_consumer_spark"
    files = sorted(pkg.rglob("*.py")) + [
        root / "perfbench" / "inputs.py", root / "perfbench" / "oracle.py",
    ]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


class Bench:
    def __init__(self, root: Path, work: Path, workload: str, seed: int,
                 seconds: float, trace: bool):
        self.work = work
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.run_dir = work / "run"
        if trace:
            # the traced run measures its own cache fill
            self.cache = work / "trace_cache"
            shutil.rmtree(self.cache, ignore_errors=True)
        else:
            self.cache = work / "cache" / source_key(root)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = {}
        self.detail: dict[str, object] = {}
        self.queries = inputs.query_stream(seed, QUERY_POOL)
        self.q_next = 0
        # per-query reader timings, by index kind ("clean" / "tombstoned")
        self.q_lat: dict[str, list[float]] = {"clean": [], "tombstoned": []}
        self.q_plan: dict[str, list[float]] = {"clean": [], "tombstoned": []}
        self.q_join: dict[str, list[bool]] = {"clean": [], "tombstoned": []}
        self.q_stratum: dict[str, list[float]] = {}
        self.first_ms: list[float] = []
        self.open_ms: list[float] = []

    # ---- session ---------------------------------------------------------

    def start_session(self) -> None:
        from aether_elasticsearch_consumer_spark.session import get_spark

        name = "session.start" if self.spark is None else "session.restart"
        with self.tracer.span(name):
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark(
                "perfbench",
                cores=CORES,
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work / 'tmp'}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.range(1).count()
        self.tracer.sc = self.spark.sparkContext

    # ---- checks ------------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    # ---- cache -------------------------------------------------------------

    def ensure_cache(self) -> None:
        """Fixed corpus, clean index, base oracle, tombstoned index. Built
        once per source hash (once per run when traced)."""
        from aether_elasticsearch_consumer_spark.plans.index_build import (
            IndexBuilder,
        )

        c = self.cache
        if (c / "DONE").exists():
            return
        if not self.tracer.enabled:
            shutil.rmtree(c.parent, ignore_errors=True)  # other commits' caches
        shutil.rmtree(c, ignore_errors=True)  # a fill cut short
        c.mkdir(parents=True)
        with self.tracer.span("webtext.gen"):
            inputs.write_corpus(c / "corpus")
        src = self.spark.read.parquet(str(c / "corpus"))
        # the search workload's build layers are those of this set-up
        # build; the build workload measures its own timed builds
        search = self.workload == "search"
        with self.tracer.span("build.plain" if search else "cache.build"):
            m = IndexBuilder(self.spark, str(c / "clean"), **inputs.BUILD_KW
                             ).build(src, fingerprint_extra="corpus")
        if search:
            self._record_build("build", m)
        (c / "clean_rows.json").write_text(
            json.dumps({s: m[s].get("rows") for s in STAGES})
        )
        with self.tracer.span("oracle.build"):
            orc.build_base(c / "corpus", c / "clean", c / "oracle.pkl")
        batch = inputs.upsert_batch()
        pq.write_table(batch, c / "tomb_batch.parquet")
        self._fill_tombstoned(c / "tomb", c / "clean", batch)
        (c / "DONE").write_text("")

    def _fill_tombstoned(self, d: Path, clean: Path, batch) -> None:
        """A copy of the clean index, made live at ``d/live`` and upserted
        with ``batch`` (merged indexes under ``d/work``)."""
        from aether_elasticsearch_consumer_spark.plans.live_pointer import (
            commit_live_pointer,
        )
        from aether_elasticsearch_consumer_spark.plans.tombstones import (
            upsert_index,
        )

        shutil.copytree(clean, d / "base")
        commit_live_pointer(d / "live", d / "base")
        df = self.spark.createDataFrame(batch.to_pandas())
        before = _dir_bytes(d)
        with self.tracer.span("upsert", "cache"):
            live = upsert_index(
                self.spark, str(d / "live"), str(d / "work"), df,
                batch_tag="cache", **inputs.BUILD_KW,
            )
        if self.tracer.enabled:
            user = pc.sum(pc.binary_length(batch.column("text"))).as_py()
            self.layer_add("upsert.bytes_written_per_user_byte",
                           (_dir_bytes(d) - before) / user)
            self.layer_add("upsert.index_bytes", _dir_bytes(Path(live)))

    # ---- ops ---------------------------------------------------------------

    def open_reader(self, path: Path, op: object):
        from aether_elasticsearch_consumer_spark.operators.topk import (
            IndexReader,
        )

        t0 = time.perf_counter()
        with self.tracer.span("reader.open", op):
            r = IndexReader(self.spark, str(path))
        self.open_ms.append((time.perf_counter() - t0) * 1e3)
        if self.tracer.enabled:
            self.tracer.wrap(r, "term_dfs", "reader.term_dfs", "reader.search")
        return r

    def query(self, reader, oracle, kind: str) -> float:
        """One timed query (``search()`` + ``collect()``), checked against
        the oracle outside the timed region. Returns wall seconds."""
        q = self.queries[self.q_next % len(self.queries)]
        self.q_next += 1
        op = f"q{self.q_next}"
        t0 = time.perf_counter()
        with self.tracer.span("reader.search", op):
            df = reader.search(q["query"], k=q["k"])
        t1 = time.perf_counter()
        with self.tracer.span("reader.collect", op):
            rows = df.collect()
        t2 = time.perf_counter()
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        want = score_query(oracle, q["query"], q["k"])
        self.check(got == want, f"{kind} query {q['query']!r} k={q['k']}")
        self.q_lat[kind].append((t2 - t0) * 1e3)
        self.q_plan[kind].append((t1 - t0) * 1e3)
        self.q_stratum.setdefault(q["stratum"], []).append((t2 - t1) * 1e3)
        if self.tracer.enabled:
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.q_join[kind].append("Join" in plan)
        return t2 - t0

    def first_query(self, path: Path, oracle, kind: str, op: object):
        """Fresh reader open + first answered query."""
        t0 = time.perf_counter()
        r = self.open_reader(path, op)
        self.query(r, oracle, kind)
        self.first_ms.append((time.perf_counter() - t0) * 1e3)
        return r

    # ---- set-up ------------------------------------------------------------

    def setup(self) -> float:
        """Repeat the per-session set-up; returns the median wall. Each
        repeat restarts the Spark session and reloads every input."""
        walls = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.start_session()
            self.ensure_cache()
            with self.tracer.span("oracle.load"):
                self.oracle = orc.load_base(self.cache / "oracle.pkl")
            self.ref_rows = json.loads((self.cache / "clean_rows.json").read_text())
            if self.workload == "search":
                self._setup_search()
            else:
                self._setup_build()
            walls.append(time.perf_counter() - t0)
        self.detail["setup_walls_s"] = walls
        return statistics.median(walls)

    def _setup_search(self) -> None:
        c = self.cache
        batch = pq.read_table(c / "tomb_batch.parquet", columns=["url", "text"])
        self.tomb_oracle = orc.apply_upsert(
            self.oracle,
            list(zip(batch["url"].to_pylist(), batch["text"].to_pylist())),
            orc.url_doc_ids(c / "clean"),
            orc.url_doc_ids(c / "tomb" / "work" / "upsert_delta_cache"),
        )
        # warm-up: one query per index (checked, not timed)
        self.clean_reader = self.open_reader(c / "clean", "warm")
        self.tomb_reader = self.open_reader(c / "tomb" / "live", "warm")
        self.query(self.clean_reader, self.oracle, "clean")
        self.query(self.tomb_reader, self.tomb_oracle, "tombstoned")

    def _setup_build(self) -> None:
        self.src = self.spark.read.parquet(str(self.cache / "corpus"))
        self.src.count()
        # warm-up: one checked query (starts the Python workers)
        r = self.open_reader(self.cache / "clean", "warm")
        self.query(r, self.oracle, "clean")

    def reset_timings(self) -> None:
        for d in (self.q_lat, self.q_plan, self.q_join):
            for v in d.values():
                v.clear()
        self.q_stratum.clear()
        self.first_ms.clear()
        self.open_ms.clear()

    # ---- timed phases ------------------------------------------------------

    def run_search(self) -> tuple[list[float], float]:
        ops, n = [], 0
        t_end = time.perf_counter() + self.seconds
        clean = self.cache / "clean"
        while time.perf_counter() < t_end:
            n += 1
            if n % SEARCH_LIVE_EVERY == 0:
                ops.append(self.query(self.tomb_reader, self.tomb_oracle,
                                      "tombstoned"))
            elif n % SEARCH_REOPEN_EVERY == 1:
                self.clean_reader = self.first_query(
                    clean, self.oracle, "clean", f"open{n}")
            else:
                ops.append(self.query(self.clean_reader, self.oracle, "clean"))
        return ops, len(ops) / sum(ops)

    def run_build(self) -> tuple[list[float], float]:
        """Write cycles: a plain then a positional build of the corpus, each
        followed by fresh readers answering probe queries. Whole cycles: at
        least one, more while the next still fits in ``seconds``."""
        from aether_elasticsearch_consumer_spark.plans.index_build import (
            IndexBuilder,
        )

        # Untimed warm-up on one corpus file: the first build in a JVM pays
        # class loading and JIT compilation, which made a cold timed build
        # the noisiest figure of this workload.
        part = sorted((self.cache / "corpus").glob("*.parquet"))[0]
        with self.tracer.span("build.warmup"):
            IndexBuilder(self.spark, str(self.run_dir / "warmup"),
                         **inputs.BUILD_KW).build(
                self.spark.read.parquet(str(part)),
                fingerprint_extra="corpus", force=True)

        ops: list[float] = []
        refs = {"plain": self.ref_rows, "pos": None}
        cycle = 0
        t_start = time.perf_counter()
        while True:
            t_cycle = time.perf_counter()
            for kind in ("plain", "pos"):
                out = self.run_dir / f"{kind}{cycle}"
                t0 = time.perf_counter()
                with self.tracer.span(f"build.{kind}", cycle):
                    m = IndexBuilder(
                        self.spark, str(out), with_positions=kind == "pos",
                        **inputs.BUILD_KW,
                    ).build(self.src, fingerprint_extra="corpus", force=True)
                ops.append(time.perf_counter() - t0)
                rows = {s: m[s].get("rows") for s in STAGES}
                refs[kind] = refs[kind] or rows
                self.check(rows == refs[kind],
                           f"{kind} build lineage rows {rows} != {refs[kind]}")
                self._record_build("build" if kind == "plain" else "build_pos", m)
                for i in range(BUILD_REOPENS):
                    self.first_query(out, self.oracle, "clean", f"{kind}{cycle}.{i}")
            cycle += 1
            now = time.perf_counter()
            if now - t_start + (now - t_cycle) > self.seconds:
                break
        self.detail["op_walls_s"] = ops
        return ops, inputs.CORPUS_DOCS * len(ops) / sum(ops)

    # ---- metrics -----------------------------------------------------------

    def layer_add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _record_build(self, prefix: str, m: dict) -> None:
        """Per-stage wall, rows and bytes from the manifests ``build()``
        returns (lineage read from the parquet footers)."""
        for s in STAGES:
            self.layer_add(f"{prefix}.{s}_s", m[s]["elapsed_sec"])
            self.layer_add(f"{prefix}.{s}_rows", m[s].get("rows", 0))
            self.layer_add(
                f"{prefix}.{s}_bytes",
                sum(p["bytes"] for p in m[s].get("partitions", {}).values()),
            )

    def end_to_end(self, setup_s: float, ops: list[float],
                   work_per_s: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(ops) * 1e3, "ms"),
            "work_per_s": (work_per_s, "1/s"),
            "reader_first_ms": (statistics.median(self.first_ms), "ms"),
        }

    def per_layer(self, ops: list[float], work_per_s: float,
                  eventlog_dir: Path, rss) -> dict:
        """Per-layer metrics of the traced run. Every name appears on both
        workloads; splits that exist on one only (positional build stages,
        clean vs tombstoned reader, query strata) go to ``self.detail``."""
        out: dict[str, tuple[float, str]] = {}
        med = {k: statistics.median(v) for k, v in self.layer.items()}
        self.detail["layer_medians"] = med
        for s in STAGES:
            out[f"build.{s}_s"] = (med[f"build.{s}_s"], "s")
            out[f"build.{s}_rows"] = (med[f"build.{s}_rows"], "count")
            out[f"build.{s}_bytes"] = (med[f"build.{s}_bytes"], "B")
        texts = pq.read_table(self.cache / "corpus", columns=["text"])["text"]
        idx_bytes = sum(med[f"build.{s}_bytes"] for s in STAGES)
        out["build.index_bytes_per_text_byte"] = (
            idx_bytes / pc.sum(pc.binary_length(texts)).as_py(), "ratio")

        def once(name: str) -> float:
            return sum(self.tracer.durations(name))

        def median_of(name: str) -> float:
            return statistics.median(self.tracer.durations(name))

        out["session.start_s"] = (once("session.start"), "s")
        out["session.restart_s"] = (median_of("session.restart"), "s")
        out["webtext.gen_s"] = (once("webtext.gen"), "s")
        out["oracle.build_s"] = (once("oracle.build"), "s")
        out["oracle.load_s"] = (median_of("oracle.load"), "s")

        # reader: pooled over every timed query of the run
        lat = [x for v in self.q_lat.values() for x in v]
        plan = [x for v in self.q_plan.values() for x in v]
        coll = [a - b for a, b in zip(lat, plan)]
        joins = [x for v in self.q_join.values() for x in v]
        out["reader.open_ms"] = (statistics.median(self.open_ms), "ms")
        out["reader.term_dfs_ms"] = (median_of("reader.term_dfs") * 1e3, "ms")
        out["reader.plan_ms"] = (statistics.median(plan), "ms")
        out["reader.collect_p50_ms"] = (statistics.median(coll), "ms")
        out["reader.collect_p90_ms"] = (_pct(coll, 90), "ms")
        out["reader.join_plan_frac"] = (sum(joins) / len(joins), "ratio")
        self.detail["queries_by_index"] = {
            k: {
                "n": len(v),
                "collect_p50_ms": statistics.median(
                    [a - b for a, b in zip(v, self.q_plan[k])]) if v else None,
                "join_plan_frac": (sum(self.q_join[k]) / len(self.q_join[k])
                                   if self.q_join[k] else None),
            }
            for k, v in self.q_lat.items()
        }
        self.detail["collect_p50_ms_by_stratum"] = {
            s: statistics.median(v) for s, v in self.q_stratum.items()}

        # upsert: spans around the calls inside upsert_index
        st = self.tracer.self_times()
        n_ups = len(self.tracer.durations("upsert"))
        for part in ("delta_build", "merge", "deletes"):
            out[f"upsert.{part}_s"] = (st.get(f"upsert.{part}", 0.0) / n_ups, "s")
        out["upsert.other_s"] = (st["upsert"] / n_ups, "s")
        out["upsert.bytes_written_per_user_byte"] = (
            med["upsert.bytes_written_per_user_byte"], "ratio")
        out["upsert.index_bytes"] = (med["upsert.index_bytes"], "B")
        self.detail["span_self_s"] = st

        # event-log task metrics, per op of each labelled layer
        layers = {k: layer_totals(v) for k, v in parse(eventlog_dir).items()}
        self.detail["eventlog_layers"] = layers
        b = layers["build.plain"]
        # fetch wait is left in the report: local mode never waits on fetches
        for key, unit in (("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                          ("py_run_s", "s"),
                          ("shuffle_write_bytes", "B"),
                          ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
                          ("py_bytes_sent", "B"), ("tasks", "count"),
                          ("task_retries", "count")):
            out[f"build.{key}"] = (b[key] / b["ops"], unit)
        q = [layers[k] for k in ("reader.search", "reader.collect") if k in layers]
        nq = len(lat)

        def per_q(key: str) -> float:
            return sum(x[key] for x in q) / nq

        out["reader.jobs_per_query"] = (per_q("jobs"), "count")
        out["reader.tasks_per_query"] = (per_q("tasks"), "count")
        out["reader.task_ms_per_query"] = (per_q("task_s") * 1e3, "ms")
        out["reader.shuffle_bytes_per_query"] = (per_q("shuffle_write_bytes"), "B")
        out["reader.py_boot_ms_per_query"] = (per_q("py_boot_s") * 1e3, "ms")
        out["reader.py_bytes_per_query"] = (per_q("py_bytes_sent"), "B")

        # process tree (driver JVM + Python workers + this process)
        out["proc.peak_rss_mb"] = (rss.peak_mb, "MB")
        out["proc.rss_p50_mb"] = (rss.median_mb, "MB")
        # CPU time the hypervisor gave to other guests: query latency rises
        # with it, so compare traced figures only at similar values
        out["host.steal_frac"] = (self.detail["steal_share"], "ratio")

        # the same run's end-to-end figures, for the tracing overhead
        out["traced.op_p50_ms"] = (statistics.median(ops) * 1e3, "ms")
        out["traced.work_per_s"] = (work_per_s, "1/s")
        return out
