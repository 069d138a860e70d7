"""The workloads.

Each workload generates its inputs from the seed, computes its
reference outside any timed region, sets up (session start, model build
+ broadcast, warm-up pass; the last two three times), then repeats its
timed operation for the run's seconds and checks the outputs.  The
engine is driven only through its public entry points; the traced run
adds spans around the calls into each module and reads the Spark event
log.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import time
from typing import Dict, List, Optional

from perfbench import check, gen, host
from perfbench.trace import Tracer, read_event_log

SETUP_REPS = 3
TIMED_GROUP = "perfbench-timed"
PLAIN_GROUP = "perfbench-untimed"

# Generator parameters; each run's report and perfbench/README.md record them.
PARAMS = {
    "annotate_dense": {"n_docs": 10000, "tokens_per_doc": 50,
                       "vocab": "demo.CORPUS_WORDS (31 words)",
                       "dictionary": "demo.flagship_cdb (unigram+bigram)",
                       "warmup_docs": 2000, "core_sample_docs": 4000},
    "kg_iceberg_resume": {"commits": 2, "max_docs": 120, "n_docs": 240,
                          "median_tokens": 300, "vocab_words": 20000,
                          "topics": 30, "dictionary_names": 800,
                          "cuis_per_name": "1 (30%) or 2-4 (70%)",
                          "model_seed": 0, "warmup_docs": 20,
                          "core_sample_docs": 120},
    "score_heads": {"n_docs": 1000, "tokens_per_doc": 60,
                    "vocab": "demo.CORPUS_WORDS (31 words)",
                    "dictionary": "demo.flagship_cdb (unigram+bigram)",
                    "heads": "linear, mlp, lstm, rel",
                    "warmup_docs": 100},
}


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: List[float]):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; with fewer than 21 samples no percentile above
    the median qualifies, and the maximum is reported (percentile 100)."""
    s = sorted(xs)
    n = len(s)
    if n >= 21:
        k = n - 11
        return s[k], 100.0 * k / (n - 1)
    return (s[-1] if s else 0.0), 100.0


class Workload:
    name = ""
    min_ops = 2              # timed operations per window, at least
    settle_ops = 1

    def __init__(self, seed: int, seconds: float, trace: bool,
                 work: str) -> None:
        self.p = PARAMS[self.name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.notes: Dict[str, object] = {}
        self.layer: Dict[str, float] = {}
        self.spark = None
        self.cores = host.cores()
        # one task wave per stage: every task pays a Python worker round
        # trip of a few hundred ms on small hosts, and the slowest task
        # of the wave shows the skew of uneven docs
        self.partitions = self.cores

    # -- hooks --------------------------------------------------------------
    def generate(self) -> None: ...
    def reference(self) -> None: ...
    def prepare(self) -> None:
        """One-time set-up after the session starts (default: none)."""
    def build_model(self): ...
    def warm_up(self, model) -> None: ...
    def op(self, model) -> Dict[str, float]: ...
    def verify(self, model) -> Optional[int]:
        """Disagreements found by a check after timing; None when the
        timed operations and warm-ups already checked every output."""
        return None

    def traced_extras(self, model) -> None: ...

    # -- helpers ------------------------------------------------------------
    def start_session(self, master: Optional[str] = None):
        from medcat_spark.session import get_spark
        spark = get_spark("perfbench-" + self.name,
                          master=master or f"local[{self.cores}]",
                          shuffle_partitions=self.partitions,
                          extra_conf=host.session_conf(self.work, self.trace))
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def job_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, self.name)

    def noop(self, df, checksum: Optional[List[str]] = None):
        """Materialize every column of ``df`` through Spark's noop sink;
        returns the row count observed on the same pass, or, given
        ``checksum`` columns, (count, multiset checksum of those columns
        as check.key_checksum computes it)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation("rows")
        aggs = [F.count(F.lit(1)).alias("n")]
        if checksum:
            line = F.concat_ws("|", *[F.col(c).cast("string")
                                      for c in checksum])
            aggs.append(F.sum(F.crc32(line.cast("binary"))).alias("crc"))
        (df.observe(obs, *aggs).write.format("noop").mode("overwrite")
         .save())
        got = obs.get
        if checksum:
            return int(got["n"]), int(got["crc"] or 0)
        return int(got["n"])

    def check(self, disagreements: int) -> None:
        """Count one checked output; any disagreement fails it."""
        self.attempted += 1
        if disagreements:
            self.failed += 1
            self.notes["disagreements"] = (
                self.notes.get("disagreements", 0) + disagreements)

    def write_inputs(self, docs: List[dict]) -> None:
        self.docs = docs
        self.docs_path = os.path.join(self.work, "docs")
        self.warm_path = os.path.join(self.work, "warm")
        gen.write_docs(docs, self.docs_path)
        gen.write_docs(docs[:self.p["warmup_docs"]], self.warm_path, 1)

    def annotated(self, bc, path: str):
        from medcat_spark.pipeline import annotate
        with self.tracer.span("spark.read"):
            docs = self.spark.read.parquet(path)
        with self.tracer.span("pipeline.annotate"):
            return annotate(docs, bc, num_partitions=self.partitions)

    # -- run ------------------------------------------------------------------
    def setup(self):
        """Session start, one-time preparation, then SETUP_REPS x (model
        build + broadcast + warm-up pass); the last model is kept.  The
        first repetition also starts the Python workers, so the median
        is a repetition on running workers."""
        from pyspark import SparkContext
        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.job_group(PLAIN_GROUP)
        session_s = time.perf_counter() - t0
        self.rss = host.RssSampler(SparkContext._gateway.proc.pid).start()
        t0 = time.perf_counter()
        self.prepare()
        prepare_s = time.perf_counter() - t0
        reps, model = [], None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            model = self.build_model()
            self.warm_up(model)
            reps.append(time.perf_counter() - t0)
        self.notes.update(session_start_s=session_s, prepare_s=prepare_s,
                          setup_reps_s=reps)
        return session_s + prepare_s + median(reps), model

    def timed(self, model, seconds: float, group: str,
              min_ops: int) -> List[Dict]:
        self.job_group(group)
        ops: List[Dict] = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(ops) < min_ops:
            self.attempted += 1
            try:
                r = self.op(model)
            except Exception as e:      # a failed pass counts, the run goes on
                self.failed += 1
                self.notes.setdefault("op_errors", []).append(repr(e)[:300])
                if len(self.notes["op_errors"]) >= 3:
                    break
                continue
            if not r.pop("ok"):
                self.failed += 1
            ops.append(r)
        self.job_group(PLAIN_GROUP)
        if not ops:
            raise RuntimeError(f"every timed operation failed: "
                               f"{self.notes.get('op_errors')}")
        return ops

    def end_to_end(self, setup_s, ops, peak_rss_mb) -> Dict[str, float]:
        wall = median([o["wall_s"] for o in ops])
        lat = [x for o in ops for x in o["op_latencies"]]
        t, pct = tail(lat)
        self.notes.update(op_samples=len(lat), tail_percentile=pct,
                          op_latencies_s=lat,
                          op_wall_s=[o["wall_s"] for o in ops])
        return {
            "setup_s": setup_s,
            "docs_per_s": median([o["docs"] for o in ops]) / wall,
            "wall_s": wall,
            "commit_s_p50": median(lat),
            "commit_s_tail": t,
            "scored_per_s": median([o["rows"] for o in ops]) / wall,
            "peak_rss_mb": peak_rss_mb,
        }

    def verify_outputs(self, model) -> None:
        bad = self.verify(model)
        if bad is not None:
            self.check(bad)

    def phase(self, name: str) -> None:
        now = time.perf_counter()
        self.notes.setdefault("phases_s", {})[name] = now - self._t_phase
        self._t_phase = now

    def run(self) -> Dict[str, float]:
        self._t_phase = time.perf_counter()
        self.generate()
        self.phase("generate")
        self.reference()
        self.phase("reference")
        try:
            setup_s, model = self.setup()
            self.phase("setup")
            if self.trace:
                return self._run_traced(model)
            self.settle(model)
            ops = self.timed(model, self.seconds, TIMED_GROUP, self.min_ops)
            self.phase("timed")
            peak = self.rss.stop()
            self.verify_outputs(model)
            self.phase("verify")
            return self.end_to_end(setup_s, ops, peak)
        finally:
            self.stop_spark()
            self.phase("shutdown")

    def settle(self, model) -> None:
        """Untimed operations before any window: a process's first
        full-size operations run up to 50% slower (JIT, first use of each
        code path)."""
        for _ in range(self.settle_ops):
            self.op(model)

    def traced_calls(self):
        """Context in which spans wrap calls made inside the engine's own
        code (default: none)."""
        return contextlib.nullcontext()

    def _run_traced(self, model) -> Dict[str, float]:
        """Untraced and traced operations alternate, so a drift in
        operation time over the run does not show as tracing overhead;
        the traced ones (job group TIMED_GROUP) give the layers."""
        self.settle(model)
        self.tracer = Tracer(False)
        plain: List[Dict] = []
        ops: List[Dict] = []
        t_end = time.perf_counter() + self.seconds
        with self.traced_calls():
            while time.perf_counter() < t_end or len(ops) < self.min_ops:
                for on, group, out in ((False, PLAIN_GROUP, plain),
                                       (True, TIMED_GROUP, ops)):
                    self.tracer.enabled = on
                    out += self.timed(model, 0, group, 1)
        self.phase("timed")
        self.rss.stop()
        self.verify_outputs(model)
        self.phase("verify")
        wall = median([o["wall_s"] for o in ops])
        self.layer["trace.overhead_s"] = (
            wall - median([o["wall_s"] for o in plain]))
        roots = self.tracer.by_name("op")
        st = self.tracer.self_time_by_name(roots)
        total = sum(r.duration for r in roots)
        self.layer["trace.layer_coverage"] = 1 - st.get("op", 0.0) / total
        self.notes["self_time_by_layer_s"] = st
        app_id = self.spark.sparkContext.applicationId
        self.traced_extras(model)
        self.phase("layers")
        self.stop_spark(keep_jvm=True)
        ev = read_event_log(os.path.join(self.work, "events"), app_id,
                            TIMED_GROUP)
        for k, v in ev.items():     # per timed operation
            self.layer["spark." + k] = v if k == "task_skew" else v / len(ops)
        batch_us = self.layer.get("pipeline.batch_us_per_doc", 0.0)
        docs_per_s = median([o["docs"] for o in ops]) / wall
        self.layer["spark.kernel_ceiling_ratio"] = (
            docs_per_s * batch_us / 1e6 / self.cores)
        self.notes["op_samples"] = len(ops)
        return self.layer

    def stop_spark(self, keep_jvm: bool = False) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if not keep_jvm:
            shutdown_jvm()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:       # the gateway may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    tree = host.descendants(proc.pid)
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{pid}") for pid in tree):
        time.sleep(0.1)


# -- in-process layers (core, pipeline) -------------------------------------------

class _LocalBroadcast:
    """Stands in for a Spark broadcast when the batch kernel is driven
    in-process: the kernel reads ``.value`` and caches by ``._path``."""

    def __init__(self, value, key: str) -> None:
        self.value = value
        self._path = key


def core_layers(layer: Dict[str, float], docs: List[dict], cdb,
                vocab) -> float:
    """core.* over ``docs`` in this process (fresh EngineConfig: the
    first preprocess pass runs with a cold token memo, the next warm).
    Returns the warm kernel time per doc in microseconds."""
    from medcat_spark.config import EngineConfig
    from medcat_spark.core.annotate import preprocess
    from medcat_spark.core.linker import create_main_ann, link_entities
    from medcat_spark.core.ner import detect_entities
    from medcat_spark.core.normalizer import SpellChecker

    cfg = EngineConfig()
    sc = SpellChecker(cdb.vocab, cfg) if cfg.spell_check else None
    texts = [check.doc_text(d)[0] for d in docs]
    t0 = time.perf_counter()
    for t in texts:
        preprocess(t, cdb, cfg, sc)
    cold = time.perf_counter() - t0
    pre = ner = link = res = 0.0
    n_tok = n_cand = n_ent = 0
    for t in texts:
        a = time.perf_counter()
        toks = preprocess(t, cdb, cfg, sc)
        b = time.perf_counter()
        cands = detect_entities(toks, t, cdb, cfg)
        c = time.perf_counter()
        linked = link_entities(cands, toks, cdb, vocab, cfg)
        d = time.perf_counter()
        main = create_main_ann(linked)
        e = time.perf_counter()
        pre += b - a
        ner += c - b
        link += d - c
        res += e - d
        n_tok += len(toks)
        n_cand += len(cands)
        n_ent += len(main)
    n = len(texts)
    us = 1e6 / n
    kernel = (pre + ner + link + res) * us
    layer.update({
        "core.docs_per_s_per_core": 1e6 / kernel,
        "core.preprocess_cold_us_per_doc": cold * us,
        "core.preprocess_warm_us_per_doc": pre * us,
        "core.ner_us_per_doc": ner * us,
        "core.link_us_per_doc": link * us,
        "core.resolve_us_per_doc": res * us,
        "core.tokens_per_doc": n_tok / n,
        "core.candidates_per_doc": n_cand / n,
        "core.entities_per_doc": n_ent / n,
        "core.link_keep_ratio": n_ent / n_cand if n_cand else 0.0,
    })
    return kernel


def pipeline_layer(layer: Dict[str, float], docs: List[dict], cdb, vocab,
                   kernel_us: float) -> None:
    """pipeline.* — the Arrow batch kernel ``pipeline._annotate_batches``
    over Arrow batches of ``docs`` in this process, memo warm."""
    import pyarrow as pa

    from medcat_spark.config import EngineConfig
    from medcat_spark.pipeline import _annotate_batches

    has_spans = "spans" in docs[0]
    tbl = pa.Table.from_pylist(docs)
    batches = tbl.to_batches(max_chunksize=max(1, len(docs) // 4))
    fn = _annotate_batches(_LocalBroadcast((cdb, vocab, EngineConfig()),
                                           "perfbench-local"), has_spans)
    for _ in fn(iter(batches)):     # warm the token memo
        pass
    t0 = time.perf_counter()
    rows = sum(rb.num_rows for rb in fn(iter(batches)))
    batch_us = (time.perf_counter() - t0) * 1e6 / len(docs)
    layer.update({
        "pipeline.batch_us_per_doc": batch_us,
        "pipeline.out_rows_per_doc": rows / len(docs),
        "pipeline.boundary_share": 1 - kernel_us / batch_us,
    })


def kernel_layers(wl: Workload, parts, reps: int = 5) -> None:
    """core.* and pipeline.* over the workload's first docs, measured
    alternately ``reps`` times; each metric is the median."""
    sample = wl.docs[:wl.p["core_sample_docs"]]
    runs: Dict[str, List[float]] = {}
    for _ in range(reps):
        one: Dict[str, float] = {}
        kernel = core_layers(one, sample, *parts)
        pipeline_layer(one, sample, *parts, kernel)
        for k, v in one.items():
            runs.setdefault(k, []).append(v)
    wl.layer.update({k: median(v) for k, v in runs.items()})


# -- annotate_dense -----------------------------------------------------------------

class AnnotateDense(Workload):
    """One timed operation = one pass: generated parquet -> annotate
    (salted repartition, Arrow kernel) -> noop sink.  Each pass also
    compares the count and a multiset checksum of all output keys with
    the reference."""
    name = "annotate_dense"
    min_ops = 5              # ~1.4 s passes, ~8% apart
    settle_ops = 2           # pass time still falls over the first two

    def generate(self) -> None:
        from medcat_spark import demo
        self.write_inputs(gen.dense_docs(self.seed, self.p["n_docs"],
                                         self.p["tokens_per_doc"],
                                         demo.CORPUS_WORDS))

    def reference(self) -> None:
        self.ref_keys = check.annotate_reference(
            self.docs, gen.flagship_model, None, self.cores)
        self.ref_sum = (len(self.ref_keys), check.key_checksum(self.ref_keys))

    def build_model(self):
        from medcat_spark.config import EngineConfig
        from medcat_spark.pipeline import broadcast_model
        self.parts = gen.flagship_model()
        return broadcast_model(self.spark, *self.parts, EngineConfig())

    def warm_up(self, bc) -> None:
        self.noop(self.annotated(bc, self.warm_path))

    def op(self, bc) -> Dict[str, float]:
        t0 = time.perf_counter()
        with self.tracer.span("op", docs=len(self.docs)) as span:
            ann = self.annotated(bc, self.docs_path)
            with self.tracer.span("spark.execute"):
                got = self.noop(ann, checksum=check.KEY_COLS)
            if span:
                span.counts["rows"] = got[0]
        dt = time.perf_counter() - t0
        return {"wall_s": dt, "op_latencies": [dt], "docs": len(self.docs),
                "rows": got[0], "ok": got == self.ref_sum}

    def traced_extras(self, bc) -> None:
        kernel_layers(self, self.parts)


# -- kg_iceberg_resume -------------------------------------------------------------

@contextlib.contextmanager
def iceberg_spans(tracer: Tracer):
    """Spans around the Iceberg sink's calls, installed by wrapping its
    methods for the traced run only (restored on exit)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from medcat_spark.sources import iceberg

    orig = {"resume": iceberg.IcebergKgSink.committed_doc_ids,
            "append": iceberg.IcebergTable.append_dataframe,
            "write": iceberg.IcebergTable._write_data_files,
            "parquet": DataFrameWriter.parquet}
    append_names = {"annotations": "iceberg.append_annotations",
                    "lineage": "iceberg.append_lineage",
                    "processed_docs": "iceberg.append_processed"}
    triples_names = {"mentions": "triples.mention",
                     "cooccurrence": "triples.cooc"}

    def resume(self, spark):
        with tracer.span("iceberg.resume_scan"):
            return orig["resume"](self, spark)

    def parquet(self, path, *a, **kw):
        # the resume anti-join (+ orderBy/limit) runs when the chosen
        # doc_id set is materialized into the sink's _scratch dir
        if "_scratch" not in str(path):
            return orig["parquet"](self, path, *a, **kw)
        with tracer.span("iceberg.resume_scan"):
            return orig["parquet"](self, path, *a, **kw)

    def append(self, df, *a, **kw):
        name = append_names.get(os.path.basename(self.location))
        if name is None or kw.get("overwrite"):
            return orig["append"](self, df, *a, **kw)
        with tracer.span(name):
            return orig["append"](self, df, *a, **kw)

    def write(self, df, snap_id):
        # inside overwrite_table: the data-file job computes the triples
        name = triples_names.get(os.path.basename(self.location))
        if name is None:
            return orig["write"](self, df, snap_id)
        with tracer.span(name):
            return orig["write"](self, df, snap_id)

    iceberg.IcebergKgSink.committed_doc_ids = resume
    iceberg.IcebergTable.append_dataframe = append
    iceberg.IcebergTable._write_data_files = write
    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        iceberg.IcebergKgSink.committed_doc_ids = orig["resume"]
        iceberg.IcebergTable.append_dataframe = orig["append"]
        iceberg.IcebergTable._write_data_files = orig["write"]
        DataFrameWriter.parquet = orig["parquet"]


class KgIcebergResume(Workload):
    """One timed operation = one cycle into a fresh root: K resumable
    commits of at most M docs (each a new broadcast, as each run_kg job
    is), overwrite of both triples tables, planned read-back.  The docs
    are long interleaved text+media spans over an open vocabulary with
    ambiguous names, so the kernel's tokenize/normalize and context-
    vector disambiguation run on cold token memos."""
    name = "kg_iceberg_resume"

    def generate(self) -> None:
        # the model is part of the workload, like a deployed model pack;
        # the seed draws the documents
        self.spec = gen.open_model_spec(self.p["model_seed"],
                                        self.p["vocab_words"],
                                        self.p["topics"],
                                        self.p["dictionary_names"])
        self.write_inputs(gen.spans_docs(self.seed, self.p["n_docs"],
                                         self.p["median_tokens"], self.spec))
        self.cycle = 0

    def reference(self) -> None:
        self.ref_keys = check.annotate_reference(
            self.docs, gen.open_model, self.spec, self.cores)
        self.ref_mentions, self.ref_cooc = check.reference_triples(
            self.ref_keys)

    def build_model(self):
        from medcat_spark.config import EngineConfig
        from medcat_spark.pipeline import broadcast_model
        self.parts = gen.open_model(self.spec)
        return broadcast_model(self.spark, *self.parts, EngineConfig())

    def warm_up(self, bc) -> None:
        self.noop(self.annotated(bc, self.warm_path))

    def commit(self):
        from medcat_spark.config import EngineConfig
        from medcat_spark.pipeline import broadcast_model
        from medcat_spark.sources.iceberg import resumable_annotate_iceberg
        cfg = EngineConfig()
        bc = broadcast_model(self.spark, *self.parts, cfg)
        try:
            docs = self.spark.read.parquet(self.docs_path)
            return resumable_annotate_iceberg(
                self.spark, docs, bc, self.root,
                num_partitions=self.partitions,
                max_docs=self.p["max_docs"], config=cfg)
        finally:
            bc.destroy()

    def settle(self, bc) -> None:
        """One single-commit cycle: it runs the table-create, append,
        overwrite and read-back paths at half a cycle's cost."""
        self.op(bc, commits=1)

    def op(self, bc, commits: Optional[int] = None) -> Dict[str, float]:
        from medcat_spark.sources.iceberg import (IcebergKgSink,
                                                  IcebergTable,
                                                  overwrite_table)
        from medcat_spark.triples import cooccurrence_triples, mention_triples
        if self.cycle:
            shutil.rmtree(self.root, ignore_errors=True)
        self.cycle += 1
        self.root = os.path.join(self.work, f"kg-{self.cycle}")
        lat, n_docs, ok = [], 0, True
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            for _ in range(commits or self.p["commits"]):
                c0 = time.perf_counter()
                with self.tracer.span("iceberg.commit") as span:
                    m = self.commit()
                    if span:
                        span.counts["docs"] = m["n_docs"]
                lat.append(time.perf_counter() - c0)
                n_docs += m["n_docs"]
                ok &= m["n_docs"] == self.p["max_docs"]
            ann = IcebergKgSink(self.root).read_annotations(self.spark)
            for table, df in (("mentions", mention_triples(ann, True)),
                              ("cooccurrence", cooccurrence_triples(
                                  ann, materialize=False))):
                with self.tracer.span("iceberg.overwrite"):
                    overwrite_table(f"{self.root}/triples/{table}", df)
            with self.tracer.span("iceberg.readback"):
                self.readback = {
                    t: IcebergTable.load(f"{self.root}/triples/{t}")
                    .to_df(self.spark).toArrow()
                    for t in ("mentions", "cooccurrence")}
        dt = time.perf_counter() - t0
        ok &= self.readback["mentions"].num_rows == len(self.ref_mentions)
        return {"wall_s": dt, "op_latencies": lat, "docs": n_docs,
                "rows": len(self.ref_keys), "ok": ok}

    def verify(self, bc) -> int:
        """Committed annotation keys = the direct run's, no duplicates;
        both triples tables = DuckDB over the reference keys."""
        from medcat_spark.sources.iceberg import IcebergKgSink
        ann = IcebergKgSink(self.root).read_annotations(self.spark)
        keys = check.rows_of(ann.select(*check.KEY_COLS).toArrow(),
                             check.KEY_COLS)
        bad = check.diff_count(keys, self.ref_keys)
        bad += len(keys) - len(set(keys))
        bad += check.diff_count(check.rows_of(
            self.readback["mentions"], ["subj", "pred", "obj", "doc_id"]),
            self.ref_mentions)
        bad += check.diff_count(check.rows_of(
            self.readback["cooccurrence"], ["subj", "pred", "obj", "n_docs"]),
            self.ref_cooc)
        return bad

    def traced_calls(self):
        return iceberg_spans(self.tracer)

    def traced_extras(self, bc) -> None:
        kernel_layers(self, self.parts)
        tr = self.tracer
        cycles = tr.by_name("op")
        n_commits = len(tr.by_name("iceberg.commit"))
        st = tr.self_time_by_name(cycles)
        for name in ("resume_scan", "append_annotations", "append_lineage",
                     "append_processed"):
            self.layer[f"iceberg.{name}_s"] = (
                tr.total(f"iceberg.{name}") / n_commits)
        self.layer["iceberg.overwrite_s"] = (
            st["iceberg.overwrite"] / len(cycles))
        self.layer["iceberg.readback_s"] = (
            tr.total("iceberg.readback") / len(cycles))
        self.layer["triples.mention_s"] = (
            tr.total("triples.mention") / len(cycles))
        self.layer["triples.cooc_s"] = tr.total("triples.cooc") / len(cycles)
        self.layer["triples.mention_rows"] = self.readback["mentions"].num_rows
        self.layer["triples.cooc_rows"] = (
            self.readback["cooccurrence"].num_rows)
        self.layer.update(iceberg_files(self.root, self.p["commits"]))
        self.layer["spark.scaling_eff_1to4"] = self.scaling(bc)

    def scaling(self, bc) -> float:
        """Paired annotate passes over the corpus at local[cores] (this
        session) and local[1] (a second session in the same JVM, whose
        event log is not read): efficiency = T1 / (cores x Tn), the
        paper's N -> 4N on a 4-core host."""
        self.job_group(PLAIN_GROUP)
        t_n = self.paired_pass(bc)
        self.spark.stop()
        self.spark = self.start_session(master="local[1]")
        self.job_group(PLAIN_GROUP)
        t_1 = self.paired_pass(self.build_model())
        return t_1 / (self.cores * t_n)

    def paired_pass(self, bc) -> float:
        self.noop(self.annotated(bc, self.docs_path))   # fill the memo
        t0 = time.perf_counter()
        self.noop(self.annotated(bc, self.docs_path))
        return time.perf_counter() - t0


def iceberg_files(root: str, commits: int) -> Dict[str, float]:
    """Data files per commit, data bytes per annotation row, and the
    size of the newest annotations metadata JSON, from the committed
    tables under ``root``."""
    from medcat_spark.sources.iceberg import IcebergTable
    files = 0
    for t in ("annotations", "lineage", "processed_docs"):
        for s in IcebergTable.load(os.path.join(root, t)).snapshots():
            files += int(s.get("summary", {}).get("added-data-files", 0))
    ann = os.path.join(root, "annotations")
    rows = sum(int(s.get("summary", {}).get("added-records", 0))
               for s in IcebergTable.load(ann).snapshots())
    data_bytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(os.path.join(ann, "data"))
                     for f in fs if f.endswith(".parquet"))
    meta = os.path.join(ann, "metadata")
    newest = max((f for f in os.listdir(meta)
                  if f.endswith(".metadata.json")),
                 key=lambda f: int(f[1:].split(".")[0]))
    return {"iceberg.files_per_commit": files / commits,
            "iceberg.bytes_per_row": data_bytes / rows if rows else 0.0,
            "iceberg.metadata_kb_last":
                os.path.getsize(os.path.join(meta, newest)) / 1024}


# -- score_heads ------------------------------------------------------------------

HEADS = (("linear", "meta_model.linear"), ("mlp", "meta_model.mlp"),
         ("lstm", "lstm_meta.lstm"), ("rel", "rel_model.pairs"))


def head_models(tmp: str):
    from medcat_spark.functions.lstm_meta import lstm_fixture_model
    from medcat_spark.functions.meta_model import (negation_fixture_model,
                                                   negation_mlp_fixture_model)
    from medcat_spark.functions.rel_model import relation_fixture_model
    return {"linear": negation_fixture_model(),
            "mlp": negation_mlp_fixture_model(),
            "lstm": lstm_fixture_model(tmp),
            "rel": relation_fixture_model()}


class ScoreHeads(Workload):
    """One timed operation = the four neural heads over an annotated
    corpus cached before timing, each ending in the noop sink.  Each
    warm-up runs the heads over the warm-up docs and checks their labels
    against the heads' in-process forward."""
    name = "score_heads"
    settle_ops = 0           # each warm-up already ran every head

    def generate(self) -> None:
        from medcat_spark import demo
        self.write_inputs(gen.dense_docs(self.seed, self.p["n_docs"],
                                         self.p["tokens_per_doc"],
                                         demo.CORPUS_WORDS))
        self.texts = {d["doc_id"]: d["text"] for d in self.docs}

    def reference(self) -> None:
        from medcat_spark.functions.rel_model import MAX_PAIR_DISTANCE
        self.ref_keys = check.annotate_reference(
            self.docs, gen.flagship_model, None, self.cores)
        self.expected = check.expected_head_rows(self.texts, self.ref_keys,
                                                 MAX_PAIR_DISTANCE)
        warm = {d["doc_id"] for d in self.docs[:self.p["warmup_docs"]]}
        self.want_labels = check.head_labels(
            head_models(os.environ["TMPDIR"]),
            {i: self.texts[i] for i in warm},
            [k for k in self.ref_keys if k[0] in warm])

    def prepare(self) -> None:
        from medcat_spark.config import EngineConfig
        from medcat_spark.pipeline import annotate, broadcast_model
        bc = broadcast_model(self.spark, *gen.flagship_model(),
                             EngineConfig())
        self.src = self.spark.read.parquet(self.docs_path).cache()
        self.ann = annotate(self.src, bc,
                            num_partitions=self.partitions).cache()
        self.n_ann = self.noop(self.ann)
        self.check(self.n_ann - len(self.ref_keys))

    def build_model(self):
        sc = self.spark.sparkContext
        return {h: sc.broadcast(m) for h, m in
                head_models(os.environ["TMPDIR"]).items()}

    def head_df(self, head: str, bcs, ann, docs):
        from medcat_spark.functions.lstm_meta import meta_annotations_lstm
        from medcat_spark.functions.meta_model import (meta_annotations_mlp,
                                                       meta_annotations_model)
        from medcat_spark.functions.rel_model import relations_model
        fn = {"linear": meta_annotations_model, "mlp": meta_annotations_mlp,
              "lstm": meta_annotations_lstm, "rel": relations_model}[head]
        return fn(ann, docs, bcs[head])

    def warm_up(self, bcs) -> None:
        """All four heads over the warm-up docs in one job, collected."""
        from pyspark.sql import functions as F
        docs = self.spark.read.parquet(self.warm_path)
        ann = self.ann.join(docs.select("doc_id"), "doc_id", "left_semi")
        both = None
        for head, _ in HEADS:
            df = self.head_df(head, bcs, ann, docs)
            df = (df.select(F.lit(head).alias("head"), "doc_id",
                            F.col("start1").alias("start"), "start2",
                            F.col("relation").alias("label"))
                  if head == "rel" else
                  df.select(F.lit(head).alias("head"), "doc_id", "start",
                            F.lit(None).cast("int").alias("start2"),
                            F.col("value").alias("label")))
            both = df if both is None else both.unionByName(df)
        rows = check.rows_of(both.toArrow(),
                             ["head", "doc_id", "start", "start2", "label"])
        for head, _ in HEADS:
            got = [r[1:] if head == "rel" else (r[1], r[2], r[4])
                   for r in rows if r[0] == head]
            self.check(check.diff_count(got, self.want_labels[head]))

    def op(self, bcs) -> Dict[str, float]:
        lat, rows, ok = [], 0, True
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            for head, name in HEADS:
                with self.tracer.span(name) as span:
                    n = self.noop(self.head_df(head, bcs, self.ann, self.src))
                    if span:
                        span.counts["rows"] = n
                rows += n
                ok &= n == self.expected[head]
        dt = time.perf_counter() - t0
        return {"wall_s": dt, "op_latencies": [dt], "docs": len(self.docs),
                "rows": rows, "ok": ok}

    def traced_extras(self, bcs) -> None:
        from medcat_spark.functions.meta_model import docs_with_ents
        with self.tracer.span("meta_model.docs_with_ents"):
            self.noop(docs_with_ents(self.ann, self.src))
        tr = self.tracer
        n = len(tr.by_name("op"))
        self.layer["meta_model.docs_with_ents_s"] = tr.total(
            "meta_model.docs_with_ents")
        for _head, span in HEADS:
            self.layer[span + "_s"] = tr.total(span) / n
        self.layer["rel_model.pairs_per_doc"] = (
            self.expected["rel"] / len(self.docs))


WORKLOADS = {w.name: w for w in (AnnotateDense, KgIcebergResume, ScoreHeads)}
