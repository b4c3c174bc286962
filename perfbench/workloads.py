"""The benchmark's workloads: what one iteration runs, and the
correctness gate each applies to its outputs outside the timed
iterations.

Every call into the program goes through ``Workload.op``, which opens
a trace span for its layer (the per-layer times are read from those
spans) and counts it as one attempted operation; an exception (for
example a Python worker that cannot import the package) counts as one
failed operation instead of ending the run.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
import warnings
from contextlib import contextmanager, nullcontext

import numpy as np
from gen import Sizes, generate, write_table
from meter import StatusCounters, Tracer, median

# Queries of the LLM-data curation path: the full funnel, near/exact
# dedup (the candidate-then-verify similarity joins) and
# decontamination, bound by shuffle, the functions.text kernels and
# functions.cache pins; plus the media decode, the path that runs in
# Spark's Python workers (mapInPandas).
CORPUS_QUERIES = (
    "q_pipeline_e2e",
    "q_dedup_near",
    "q_dedup_exact",
    "q_contamination",
    "q_multimodal_decode",
)
STREAM_MOD = 5  # doc_id % 5 == 0 arrives through the stream, as one staged drop


class Workload:
    name: str
    sizes: Sizes

    def __init__(self, spark, tmp: str, seed: int, tracer: Tracer, counters: StatusCounters) -> None:
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.counters = counters
        self.inputs = os.path.join(tmp, "inputs")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def prepare(self) -> None:
        """Build the input directory once; excluded from every metric."""
        self.tables = generate(self.inputs, self.seed, self.sizes)

    def op(self, name: str, layer: str, fn, *args, **kwargs):
        """One operation: traced and counted; None when it failed."""
        self.attempted += 1
        try:
            with self.tracer.span(name, layer):
                return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def iteration(self, i: int) -> None:
        raise NotImplementedError

    def after_iteration(self, i: int) -> None:
        """Clean-up between iterations, outside the timed region."""

    def start_trace(self) -> None:
        """Install the instruments a traced run needs."""

    def traced_extras(self) -> None:
        """Extra per-layer measurements made once in a traced run."""

    def layer_metrics(self, times: list[dict[str, float]]) -> dict[str, float]:
        """This workload's own per-layer metrics, given the seconds per
        span name of each traced iteration."""
        return {}

    def gate(self) -> list[str]:
        """Correctness problems in the outputs; empty when correct."""
        raise NotImplementedError


class Assessment(Workload):
    """The spec's primary operation: 48 checks -> 0-1 scores -> factor
    rollup. Bound by the Spark driver and by job count, with almost no
    shuffle volume; it bypasses the text kernels and the index layer."""

    name = "assessment"
    sizes = Sizes(0.01, 500, 500)

    def prepare(self) -> None:
        super().prepare()
        from ai_ready_data_framework_spark.plans.assessment import assess

        self._assess = assess
        self.results: list[tuple[list, list]] = []
        self.check_metrics: dict[str, float] = {}

    def _run(self):
        # run_assessment turns an erroring check into a warning and a
        # 0.0 score; record the warnings so such a check counts failed
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            scores, rollup = self._assess(self.spark, self.inputs, run_streaming=False)
            rows = [tuple(r) for r in scores.collect()]
            factors = [tuple(r) for r in rollup.collect()]
        errored = [str(w.message) for w in caught if " errored: " in str(w.message)]
        return rows, factors, errored

    def iteration(self, i: int) -> None:
        out = self.op("assess", "plans", self._run)
        if out is None:
            return
        rows, factors, errored = out
        # each check is one operation; the assess call itself is not
        self.attempted += len(rows) - 1
        self.failed += len(errored)
        self.errors += errored
        self.results.append((rows, factors))

    def traced_extras(self) -> None:
        """Time each check's fn(ctx) serially, with its Spark jobs."""
        from ai_ready_data_framework_spark.checks.engine import CHECKS, CheckContext
        from ai_ready_data_framework_spark.io import load_tables

        ctx = CheckContext(spark=self.spark, sf_dir=self.inputs, run_streaming=False)
        ctx.tables = load_tables(self.spark, self.inputs)
        durations, jobs, errored = [], 0.0, 0
        self.counters.take()
        for chk in CHECKS:
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"check.{chk.key}", "checks"):
                    chk.fn(ctx)
            except Exception:  # noqa: BLE001 - counted, as the engine does
                errored += 1
            durations.append(time.perf_counter() - t0)
            jobs += self.counters.take()["jobs"]
        self.check_metrics = {
            "checks.sum_s": sum(durations),
            "checks.p50_s": statistics.median(durations),
            "checks.max_s": max(durations),
            "checks.jobs": jobs,
            "checks.errored": errored,
        }

    def layer_metrics(self, times: list[dict[str, float]]) -> dict[str, float]:
        return self.check_metrics

    def gate(self) -> list[str]:
        from ai_ready_data_framework_spark.checks.engine import CHECKS

        problems = []
        if not self.results:
            return ["no assessment completed"]
        keys = sorted(c.key for c in CHECKS)
        ref_rows, _ = self.results[0]
        for rows, factors in self.results:
            if sorted(r[0] for r in rows) != keys:
                problems.append(f"score rows {sorted(r[0] for r in rows)} != the {len(keys)} checks")
            problems += _rollup_problems(rows, factors)
            for a, b in zip(ref_rows, rows):
                # kind D/M checks are deterministic; P checks time things
                if "P" not in a[3] and a != b:
                    problems.append(f"{a[0]} changed across iterations: {a[4]} -> {b[4]}")
        return problems


def _rollup_problems(rows: list[tuple], factors: list[tuple]) -> list[str]:
    """The factor rollup must be the mean and count of the check scores
    of each factor, plus an ``(overall)`` row over all of them."""
    groups: dict[str, list[float]] = {"(overall)": [r[4] for r in rows]}
    for r in rows:
        groups.setdefault(r[1], []).append(r[4])
    want = {f: (statistics.fmean(v), len(v)) for f, v in groups.items()}
    got = {f: (score, n) for f, score, n in factors}
    # the rollup rounds its means to 4 decimals
    if set(got) != set(want) or any(
        got[f][1] != want[f][1] or abs(got[f][0] - want[f][0]) > 1e-4 for f in want
    ):
        return [f"factor rollup {got} != scores' mean and count {want}"]
    return []


class StreamProgress:
    """Micro-batch durations and input rows of the streaming queries run
    inside ``record()``, from a listener on Spark's query events."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[tuple[float, int]] = []
        self.terminated = 0
        self.recording = False

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                if outer.recording and p.numInputRows > 0:
                    outer.batches.append((p.batchDuration / 1e3, p.numInputRows))

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                outer.terminated += 1

        spark.streams.addListener(Listener())

    @contextmanager
    def record(self, timeout_s: float = 10.0):
        """Record the one streaming query run inside. Events arrive in
        order, so once its termination is seen, so are its batches."""
        done = self.terminated + 1
        self.recording = True
        try:
            yield
        finally:
            deadline = time.monotonic() + timeout_s
            while self.terminated < done and time.monotonic() < deadline:
                time.sleep(0.01)
            self.recording = False


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                full = os.path.join(root, f)
                out[full] = os.path.getsize(full)
    return out


class Corpus(Workload):
    """LLM-data curation: the corpus queries over the generated corpus,
    then the write path of the persisted MinHash band index. The index
    is built over 80% of the corpus, a staged drop of the rest is
    drained through the incremental-dedup stream as one micro-batch,
    and the maintenance call folds the delta back into the bucketed
    base (compaction is due after one delta)."""

    name = "corpus"
    sizes = Sizes(0.001, 600, 240)

    def prepare(self) -> None:
        super().prepare()
        from ai_ready_data_framework_spark.registry import QUERIES
        from ai_ready_data_framework_spark.streaming import dedup

        self.queries = QUERIES
        self.SD = dedup
        docs = self.tables["documents"]
        ids = docs["doc_id"].to_numpy()
        self.base = os.path.join(self.tmp, "ingest_base")
        os.makedirs(self.base)
        self.drops = os.path.join(self.tmp, "drops")
        os.makedirs(self.drops)
        self.input_bytes = 0
        for path, keep in (
            (os.path.join(self.base, "documents.parquet"), ids % STREAM_MOD != 0),
            (os.path.join(self.drops, "d0.parquet"), ids % STREAM_MOD == 0),
        ):
            write_table(docs.filter(keep), path)
            self.input_bytes += os.path.getsize(path)
        self.results: dict = {}
        self.last: dict | None = None
        self.progress: StreamProgress | None = None
        self.index_bytes: list[float] = []
        self.index_files: list[int] = []
        self.index_live: list[float] = []

    def start_trace(self) -> None:
        self.progress = StreamProgress(self.spark)

    def iteration(self, i: int) -> None:
        # the gate checks the results collected here, so the benchmark
        # grades exactly the outputs it timed
        self.results = {}
        for q in CORPUS_QUERIES:
            with self.tracer.span(f"query.{q}", "bench"):
                df = self.op(f"construct.{q}", "registry", self.queries[q], self.spark, self.inputs)
                if df is not None:
                    self.results[q] = self.op(f"execute.{q}", "execute", df.toPandas)
        self._ingest(i)

    def _ingest(self, i: int) -> None:
        from ai_ready_data_framework_spark.io import load_table
        from ai_ready_data_framework_spark.sources.maintenance import write_band_index

        sp, SD = self.spark, self.SD
        d = os.path.join(self.tmp, f"iter{i}")
        idx, deltas = os.path.join(d, "idx", "band"), os.path.join(d, "idx", "deltas")
        table = f"pb_band_{i}"
        written: dict[str, int] = {}
        traced = self.tracer.enabled

        def note_writes() -> None:
            if traced:
                written.update(_dir_files(os.path.join(d, "idx")))

        def build() -> None:
            docs = load_table(sp, self.base, "documents")
            write_band_index(SD.doc_bands(docs), table, idx)

        self.op("index.build", "maintenance", build)
        note_writes()
        # the staged drop is one micro-batch, so one operation
        with self.progress.record() if traced else nullcontext():
            self.op("stream.band", "streaming", SD.run_incremental_dedup_stream,
                    sp, self.drops, table, deltas, f"{d}/out/pairs", f"{d}/ckpt")
        note_writes()
        report = self.op("maintain.band", "maintenance", SD.maintain_band_index,
                         sp, table, idx, deltas, compact_after=1)
        if traced:
            note_writes()
            live = _dir_files(os.path.join(d, "idx"))
            self.index_bytes.append(sum(written.values()) / 2**20)
            self.index_files.append(len(live))
            self.index_live.append(sum(live.values()) / 2**20)
        self.last = {"dir": d, "table": table, "report": report}

    def layer_metrics(self, times: list[dict[str, float]]) -> dict[str, float]:
        out = {
            "query.construct_s": median(sum(v for k, v in t.items() if k.startswith("construct.")) for t in times),
            "query.execute_s": median(sum(v for k, v in t.items() if k.startswith("execute.")) for t in times),
            **{f"query.{q}.s": median(t[f"query.{q}"] for t in times) for q in CORPUS_QUERIES},
            "index.build_s": median(t["index.build"] for t in times),
            "index.maintain_s": median(t["maintain.band"] for t in times),
            "index.bytes_written_mb": median(self.index_bytes),
            "index.files": median(self.index_files),
            "index.write_amp": median(self.index_bytes) / (self.input_bytes / 2**20),
            "index.space_amp": median(self.index_live) / (self.input_bytes / 2**20),
        }
        batches = self.progress.batches
        out.update(
            {
                "stream.batches": len(batches) / len(times),
                "stream.input_rows": sum(b[1] for b in batches) / len(times),
                "stream.batch_p50_s": median(b[0] for b in batches),
                "stream.batch_max_s": max((b[0] for b in batches), default=0.0),
            }
        )
        return out

    def after_iteration(self, i: int) -> None:
        prev = os.path.join(self.tmp, f"iter{i - 1}")
        if os.path.isdir(prev):
            self.spark.sql(f"DROP TABLE IF EXISTS pb_band_{i - 1}")
            shutil.rmtree(prev)

    def gate(self) -> list[str]:
        from ai_ready_data_framework_spark.io import load_table
        from ai_ready_data_framework_spark.operators.ai import incremental_band_probe
        from ai_ready_data_framework_spark.parity import compare_frames, duckdb_connection
        from ai_ready_data_framework_spark.registry import ORACLES
        from pyspark.sql import functions as F

        problems = []
        missing = [q for q in CORPUS_QUERIES if self.results.get(q) is None]
        if missing:
            problems.append(f"no result from {missing}")
        con = duckdb_connection(self.inputs)
        for q in CORPUS_QUERIES:
            if q in ORACLES and q not in missing:
                res = compare_frames(q, self.results[q], con.execute(ORACLES[q]).df())
                if not res.ok:
                    problems.append(f"{q}: {res.detail}")
        if "q_pipeline_e2e" not in missing:
            expected = [tuple(r) for r in con.execute(_funnel_oracle()(self.inputs)).fetchall()]
            got = [tuple(r) for r in self.results["q_pipeline_e2e"].itertuples(index=False)]
            if got != expected:
                problems.append(f"q_pipeline_e2e funnel {got} != oracle {expected}")
        if "q_multimodal_decode" not in missing:
            problems += _decode_problems(self.results["q_multimodal_decode"], self.sizes.docs)
        sp, SD = self.spark, self.SD
        docs = load_table(sp, self.inputs, "documents")
        # the one-shot probe of the drop's documents against the rest:
        # the reference for both the stream and q_dedup_near
        one_shot = {
            (frozenset((r.new_doc, r.other_doc)), r.est_jaccard)
            for r in incremental_band_probe(
                SD.doc_bands(docs).withColumn("__new", F.col("doc_id") % STREAM_MOD == 0),
                is_new=F.col("__new"),
            ).collect()
        }
        if "q_dedup_near" not in missing:
            problems += _near_dup_problems(self.results["q_dedup_near"], one_shot, self.tables["documents"])
        if self.last is None:
            return problems + ["no ingest cycle completed"]
        d, table = self.last["dir"], self.last["table"]
        stream_pairs = {
            (frozenset((r.new_doc, r.other_doc)), r.est_jaccard)
            for r in sp.read.parquet(f"{d}/out/pairs").select("new_doc", "other_doc", "est_jaccard").collect()
        }
        if not one_shot or stream_pairs != one_shot:
            problems.append(f"stream pairs {len(stream_pairs)} != one-shot probe pairs {len(one_shot)}")
        report = self.last["report"] or {}
        if report.get("action") != "compact":
            problems.append(f"maintain_band_index did not compact: {report}")
        # compaction keeps every row: the base's bands plus the drop's
        sp.catalog.refreshTable(table)
        n_index, n_bands = sp.table(table).count(), SD.doc_bands(docs).count()
        if n_index != n_bands:
            problems.append(f"band index holds {n_index} rows after maintenance, expected {n_bands}")
        return problems


def _near_dup_problems(pairs, one_shot: set, documents) -> list[str]:
    """q_dedup_near, a candidate-then-verify join: its pairs touching the
    staged drop, with their estimated Jaccard, are exactly the one-shot
    probe's, and it recovers at least 80% (the bar of the engine's own
    recall test) of the pairs whose exact Jaccard over distinct 2-word
    shingles reaches its threshold."""
    from ai_ready_data_framework_spark.operators.ai import NEAR_DUP_JACCARD, SHINGLE_K

    got = {(frozenset((int(a), int(b))), j) for a, b, j in pairs[["doc_a", "doc_b", "est_jaccard"]].itertuples(index=False)}
    touching = {p for p in got if any(d % STREAM_MOD == 0 for d in p[0])}
    problems = []
    if touching != one_shot:
        problems.append(
            f"q_dedup_near: {len(touching)} pairs touch the drop, one-shot probe has {len(one_shot)}, "
            f"{len(touching ^ one_shot)} differ"
        )
    if any(not NEAR_DUP_JACCARD <= j <= 1.0 for _, j in got):
        problems.append(f"q_dedup_near: est_jaccard outside [{NEAR_DUP_JACCARD}, 1]")
    # exact Jaccard of every pair, from a document x shingle incidence matrix
    ids = documents["doc_id"].to_pylist()
    sh = []
    for text in documents["text"].to_pylist():
        w = text.split(" ")
        sh.append({" ".join(w[i : i + SHINGLE_K]) for i in range(max(1, len(w) - SHINGLE_K + 1))})
    col = {s: k for k, s in enumerate(set().union(*sh))}
    m = np.zeros((len(ids), len(col)), dtype=np.float32)
    for r, s in enumerate(sh):
        m[r, [col[x] for x in s]] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    jac = inter / (size[:, None] + size[None, :] - inter)
    rows, cols = np.nonzero(np.triu(jac >= NEAR_DUP_JACCARD, k=1))
    exact = {frozenset((ids[a], ids[b])) for a, b in zip(rows, cols)}
    found = {p for p, _ in got}
    if not exact or len(exact & found) < 0.8 * len(exact):
        problems.append(f"q_dedup_near recovers {len(exact & found)} of {len(exact)} exact near-duplicate pairs")
    return problems


def _decode_problems(pdf, n_media: int) -> list[str]:
    """q_multimodal_decode profiles one generated payload per document;
    each payload's decoded shape is a function of its id, so the
    profile has an exact expected value."""
    from ai_ready_data_framework_spark.operators.multimodal import ANIM_FRAMES, _gen_audio, _gen_dims

    ids = range(n_media)
    img = [_gen_dims(m) for m in ids if m % 4 in (0, 1)]
    vid = [_gen_dims(m) for m in ids if m % 4 == 3]
    aud = [_gen_audio(m) for m in ids if m % 4 == 2]

    want = {
        "image": (len(img), statistics.fmean(w for w, _ in img), statistics.fmean(h for _, h in img), None, None, None),
        "video": (len(vid), statistics.fmean(w for w, _ in vid), statistics.fmean(h for _, h in vid), ANIM_FRAMES * len(vid), None, None),
        "audio": (len(aud), None, None, None, sum(n for n, _ in aud), max(r for _, r in aud)),
    }
    cols = ["n_media", "avg_width", "avg_height", "total_frames", "total_audio_frames", "max_framerate"]
    got = {
        r[0]: tuple(None if v is None or v != v else v for v in r[1:])
        for r in pdf[["media_type", *cols]].astype(object).itertuples(index=False)
    }

    def same(a, b) -> bool:  # the averages are rounded to 4 decimals
        return (a is None) == (b is None) and (a is None or abs(a - b) <= 1e-4)

    if set(got) != set(want) or not all(same(a, b) for t in want for a, b in zip(got[t], want[t])):
        return [f"q_multimodal_decode profile {got} != expected {want}"]
    return []


def _funnel_oracle():
    """The funnel oracle SQL of the engine's own test suite, imported
    read-only so the benchmark and the tests grade the same thing."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_funnel_oracle", os.path.join(root, "tests", "test_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._funnel_oracle_sql


WORKLOADS = {w.name: w for w in (Assessment, Corpus)}
