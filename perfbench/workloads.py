"""The benchmark's workloads.

Each workload runs a closed loop of passes, one at a time. A pass ends
at a ``noop`` sink that writes every output column. Every sink carries
a Spark ``observe`` of the row count and an order-independent digest
(the sum of a 64-bit hash over all output columns of each row), so each
pass proves it produced the same rows as the others.

In a traced run each workload also reports the per-layer numbers. They
come from spans around calls into the program's public functions, from
the status API's stage metrics of the jobs started inside those spans,
and from in-process calls of the kernels on the driver.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from spans import stage_wall_s, summarize

EXTRACT_COLS = ["conv_id", "turn_idx", "role", "n_blocks", "blocks",
                "full_text", "error_code", "error_msg"]
SHAPES = ("single_line", "multi_line", "markup", "document")
SAMPLE_ROWS = 192
SAMPLE_HOSTILE = 64
# the scripts/run_extract.py defaults
CKPT_BUCKETS = 64
CKPT_BATCH_BUCKETS = 8


class Mismatch(Exception):
    """An output differs from what it must be."""


def median(xs):
    return statistics.median(xs)


def _digest_exprs(cols):
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash.cast("decimal(38,0)")).alias("digest")]


def _error_rows():
    return F.sum(F.col("error_code").isNotNull().cast("long")).alias("errors")


def noop_observed(df, cols, extra=()) -> dict:
    """Write ``df`` to the noop sink and return its observed row count
    and digest over ``cols``."""
    obs = Observation()
    (df.observe(obs, *_digest_exprs(cols), *extra)
     .write.format("noop").mode("overwrite").save())
    return obs.get


def _identity_map():
    def identity(batches):
        yield from batches
    return identity


class Workload:
    """One workload: ``run_pass`` is the timed unit; ``check_pass``,
    ``verify`` and ``layer_metrics`` run outside all timings."""

    name = ""
    # per-layer metric prefixes this workload measures in a traced run
    layers: tuple = ()
    # passes after the cold one that are run but not measured
    warmup_passes = 2

    def __init__(self, ctx, input_dir: str):
        self.ctx = ctx
        self.tr = ctx.tracer

    def run_pass(self):
        raise NotImplementedError

    def check_pass(self, result) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    def layer_metrics(self, traced_passes: list[int]) -> dict:
        raise NotImplementedError

    def _same(self, what: str, ref, got) -> None:
        if got != ref:
            raise Mismatch(f"{self.name}: {what}: {got!r} != {ref!r}")


class ExtractMixed(Workload):
    """``SparkOcrEngine.extract(df, route_documents=True)`` over mixed
    transcripts with a hostile tail, to a noop sink."""

    name = "extract_mixed"
    layers = ("scan.", "transport.", "engine.", "fastbatch.", "pipeline.",
              "sink.", "checkpoint.")

    def __init__(self, ctx, input_dir):
        super().__init__(ctx, input_dir)
        from sparkocr.config import FLAGSHIP_CONFIG
        from sparkocr.engine import SparkOcrEngine

        self.cfg = FLAGSHIP_CONFIG
        self.data = os.path.join(input_dir, "data")
        self.table = pq.read_table(
            self.data, columns=["conv_id", "turn_idx", "role", "text"])
        self.rows = self.table.num_rows
        self.eng = SparkOcrEngine(ctx.spark, FLAGSHIP_CONFIG)
        self.digest = None
        self.error_rows = None

    def _read(self, path=None):
        from sparkocr.sources import read_transcripts

        with self.tr.span("sources.read_transcripts"):
            return read_transcripts(self.ctx.spark, path or self.data,
                                    fmt="parquet")

    def _extract(self, df, route=True):
        with self.tr.span("engine.extract"):
            return self.eng.extract(df, route_documents=route)

    def run_pass(self):
        out = self._extract(self._read())
        with self.tr.span("sink.noop", group=True):
            return noop_observed(out, EXTRACT_COLS, [_error_rows()])

    def check_pass(self, m):
        self._same("rows", self.rows, m["rows"])
        if self.digest is None:
            self.digest = m["digest"]
        self._same("digest across passes", self.digest, m["digest"])
        self.error_rows = m["errors"]

    # -- correctness, once per run ------------------------------------------

    def verify(self) -> None:
        """A seeded sample of rows (hostile rows included), extracted by
        the engine, must equal ``pipeline.extract_turn_auto`` in every
        output column."""
        from sparkocr.pipeline import extract_turn_auto

        rng = random.Random(self.ctx.seed)
        conv = self.table["conv_id"].to_pylist()
        turn = self.table["turn_idx"].to_pylist()
        texts = self.table["text"].to_pylist()
        roles = self.table["role"].to_pylist()
        hostile = [i for i, c in enumerate(conv) if c.startswith("hostile-")]
        normal = [i for i, c in enumerate(conv) if not c.startswith("hostile-")]
        pick = (rng.sample(normal, min(SAMPLE_ROWS, len(normal)))
                + rng.sample(hostile, min(SAMPLE_HOSTILE, len(hostile))))
        keys = self.ctx.spark.createDataFrame(
            [(conv[i], turn[i]) for i in pick], "conv_id string, turn_idx int")
        sample = self._read().join(F.broadcast(keys), ["conv_id", "turn_idx"],
                                   "left_semi")
        got = {(r["conv_id"], r["turn_idx"]): r for r in
               self.eng.extract(sample, route_documents=True).collect()}
        self._same("sampled rows", len(pick), len(got))
        for i in pick:
            want = extract_turn_auto(texts[i], roles[i], self.cfg)
            if not _row_matches(got[(conv[i], turn[i])], want):
                raise Mismatch(f"{self.name}: row {conv[i]}/{turn[i]} differs "
                               "from the per-turn pipeline")

    # -- per-layer probes, traced runs only ---------------------------------

    def layer_metrics(self, traced_passes):
        groups = [s["group"] for s in self.tr.named("sink.noop", traced_passes)]
        m = self._engine_metrics(groups)
        m["engine.error_rows"] = self.error_rows
        m.update(self._scan_transport())
        m.update(self._kernels())
        m["sink.s"] = self._sink_s()
        m.update(self._checkpoint())
        return m

    def _engine_metrics(self, groups: list[str]) -> dict:
        api, cores = self.ctx.api, self.ctx.cores
        per = []
        for g in groups:
            stages = api.group(g)["stages"]
            q = [api.task_quantiles(s)["duration"] for s in stages]
            run_s = sum(s["executorRunTime"] for s in stages) / 1e3
            wall = sum(stage_wall_s(s) for s in stages)
            per.append({
                "engine.tasks": sum(s["numCompleteTasks"] for s in stages),
                "engine.task_s_p50": median([x[0] for x in q]) / 1e3,
                "engine.task_s_max": max(x[1] for x in q) / 1e3,
                "engine.executor_run_s": run_s,
                "engine.idle_core_frac": 1.0 - run_s / (cores * wall),
            })
        return {k: median([p[k] for p in per]) for k in per[0]}

    def _scan_transport(self, reps: int = 2) -> dict:
        """Scan-only and identity-``mapInArrow`` passes over the columns
        extraction reads, at the scan's own partitioning."""
        cols = ["conv_id", "turn_idx", "role", "text"]
        found = {}
        for name in ("scan", "transport"):
            times, groups = [], []
            for _ in range(reps):
                df = self._read().select(*cols)
                if name == "transport":
                    df = df.mapInArrow(_identity_map(), df.schema)
                with self.tr.span(f"probe.{name}", group=True) as sp:
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    times.append(time.perf_counter() - t0)
                groups.append(sp["group"])
            found[name] = (median(times),
                           summarize(self.ctx.api.group(groups[-1])))
        scan_s, scan = found["scan"]
        return {
            "scan.s": scan_s,
            "scan.tasks": scan["tasks"],
            # bytes of the files the scan opens: the status API's
            # inputBytes misses the parquet reader's vectored reads
            "scan.bytes_read": _dir_stats(self.data)[0],
            "transport.s": found["transport"][0] - scan_s,
            "transport.tasks": found["transport"][1]["tasks"],
        }

    def _kernels(self) -> dict:
        """In-process ``fastbatch.batch_extract_simple`` calls on
        shape-filtered batches of the Arrow batch size, then the
        per-turn pipeline on the rows the batch stages did not answer."""
        from sparkocr.fastbatch import batch_extract_simple
        from sparkocr.pipeline import extract_turn_auto

        texts = self.table["text"].to_pylist()
        roles = self.table["role"].to_pylist()
        size = int(self.ctx.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        by_shape: dict[str, list[int]] = {s: [] for s in SHAPES + ("null",)}
        for i, t in enumerate(texts):
            by_shape[_shape(t)].append(i)
        out, fallback, total_s = {}, [], 0.0
        for shape, idx in by_shape.items():
            spent = 0.0
            for k in range(0, len(idx), size):
                chunk = idx[k:k + size]
                with self.tr.span(f"fastbatch.{shape}"):
                    t0 = time.perf_counter()
                    res = batch_extract_simple(
                        [texts[i] for i in chunk], self.cfg,
                        allow_formfeed=False, roles=[roles[i] for i in chunk])
                    spent += time.perf_counter() - t0
                fallback.extend(i for i, r in zip(chunk, res) if r is None)
            total_s += spent
            if shape != "null":
                out[f"fastbatch.{shape}.rows"] = len(idx)
                out[f"fastbatch.{shape}.s"] = spent
        out["fastbatch.rows_per_s_1core"] = self.rows / total_s
        out["fastbatch.fast_frac"] = 1.0 - len(fallback) / self.rows
        with self.tr.span("pipeline.fallback"):
            t0 = time.perf_counter()
            for i in fallback:
                extract_turn_auto(texts[i], roles[i], self.cfg)
            out["pipeline.fallback_s"] = time.perf_counter() - t0
        out["pipeline.fallback_rows"] = len(fallback)
        return out

    def _sink_s(self, reps: int = 2) -> float:
        """Parquet write minus noop write of the same extraction plan."""
        path = os.path.join(self.ctx.work, "sink-probe")
        times = {"noop": [], "parquet": []}
        for _ in range(reps):
            for kind in times:
                out = self.eng.extract(self._read(), route_documents=True)
                with self.tr.span(f"probe.sink.{kind}"):
                    t0 = time.perf_counter()
                    if kind == "noop":
                        out.write.format("noop").mode("overwrite").save()
                    else:
                        out.write.mode("overwrite").parquet(path)
                    times[kind].append(time.perf_counter() - t0)
        shutil.rmtree(path)
        return median(times["parquet"]) - median(times["noop"])

    def _checkpoint(self) -> dict:
        """``checkpoint.run_checkpointed`` with the ``run_extract.py``
        defaults over half of the input's turns written as many small
        files, into a fresh directory. Its committed output, read back
        with ``read_checkpointed``, must carry the digest of a noop
        extraction of the same input (``run_checkpointed`` does not
        route documents)."""
        from sparkocr.checkpoint import read_checkpointed, run_checkpointed

        src = os.path.join(os.path.dirname(self.data), "small_files")
        n_rows = pq.read_table(src, columns=["turn_idx"]).num_rows
        want = noop_observed(self._extract(self._read(src), route=False),
                             EXTRACT_COLS)
        self._same("checkpoint probe rows", n_rows, want["rows"])
        out_dir = os.path.join(self.ctx.work, "ckpt")
        df = self._read(src)
        with self.tr.span("checkpoint.run_checkpointed", group=True) as sp:
            summary = run_checkpointed(
                self.ctx.spark, df, out_dir, input_path=src, config=self.cfg,
                n_buckets=CKPT_BUCKETS, batch_buckets=CKPT_BATCH_BUCKETS)
        self._same("processed buckets", list(range(CKPT_BUCKETS)),
                   summary["processed"])
        committed = read_checkpointed(self.ctx.spark, out_dir).drop("bucket")
        self._same("read_checkpointed digest", want,
                   noop_observed(committed, EXTRACT_COLS))
        status = summarize(self.ctx.api.group(sp["group"]))
        batch_wall = _ledger_wall(out_dir)
        n_bytes, n_files = _dir_stats(os.path.join(out_dir, "data"))
        shutil.rmtree(out_dir)
        return {
            "checkpoint.jobs": status["jobs"],
            "checkpoint.batch_wall_s": batch_wall,
            "checkpoint.ledger_s": sp["end"] - sp["start"] - batch_wall,
            "checkpoint.scan_amplification": status["input_records"] / n_rows,
            "sink.bytes_written": n_bytes,
            "sink.files": n_files,
        }


def _ledger_wall(out_dir: str) -> float:
    """Sum of the ledger's ``batch_wall_s``, once per batch (every
    bucket entry of a batch carries its batch's wall time)."""
    walls = {}
    ledger = os.path.join(out_dir, "_ledger")
    for b in range(CKPT_BUCKETS):
        with open(os.path.join(ledger, f"bucket={b}.json")) as f:
            walls[b // CKPT_BATCH_BUCKETS] = json.load(f)["batch_wall_s"]
    return sum(walls.values())


def _shape(t) -> str:
    """Which batch stage a routed turn's text is built for."""
    if t is None:
        return "null"
    if "\f" in t:
        return "document"
    if "<" in t or "\x1b" in t:
        return "markup"
    if "\n" in t or "\r" in t:
        return "multi_line"
    return "single_line"


def _row_matches(row, want) -> bool:
    if (row["n_blocks"] != len(want.blocks)
            or row["full_text"] != want.full_text
            or row["error_code"] != want.error_code
            or row["error_msg"] != want.error_msg):
        return False
    got = row["blocks"] or []
    if len(got) != len(want.blocks):
        return False
    for b, w in zip(got, want.blocks):
        for f in ("pos", "text", "block_type", "left", "top", "width",
                  "height", "start", "end"):
            if b[f] != getattr(w, f):
                return False
        if np.float32(b["confidence"]) != np.float32(w.confidence):
            return False
    return True


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(d, f))
                n_files += 1
    return n_bytes, n_files


class CorpusDedup(Workload):
    """Four JVM-side corpus operators over generated documents, each to
    its own noop sink."""

    name = "corpus_dedup"
    layers = ("analysis.",)
    # a pass is slow and, with the JIT threads left out, costs about the
    # same from the second pass on; the run budget has no room for more
    warmup_passes = 1
    OPS = ("exact_dedup_groups", "minhash_lsh_pairs", "ngram_jaccard_pairs",
           "simhash64")

    def __init__(self, ctx, input_dir):
        super().__init__(ctx, input_dir)
        self.dir = os.path.join(input_dir, "data")
        self.path = os.path.join(self.dir, "documents.parquet")
        self.rows = pq.read_metadata(self.path).num_rows
        self.digests = None
        self.out_rows = {}

    @staticmethod
    def _op(name: str, df):
        from sparkocr import analysis as A

        if name == "exact_dedup_groups":
            return A.exact_dedup_groups(df, "doc_id")
        if name == "minhash_lsh_pairs":
            return A.minhash_lsh_pairs(df, "doc_id", n_shingle=2)
        if name == "ngram_jaccard_pairs":
            return A.ngram_jaccard_pairs(df, "doc_id", n=2, threshold=0.2)
        return A.simhash64(df, "doc_id")

    def run_pass(self):
        with self.tr.span("scan.read"):
            df = self.ctx.spark.read.parquet(self.path)
        res = {}
        for name in self.OPS:
            with self.tr.span(f"analysis.{name}", group=True):
                out = self._op(name, df)
                with self.tr.span("sink.noop"):
                    res[name] = noop_observed(out, out.columns)
        return res

    def check_pass(self, res):
        for name, m in res.items():
            if m["rows"] == 0:
                raise Mismatch(f"{self.name}: {name} produced no rows")
        got = {k: (m["rows"], m["digest"]) for k, m in res.items()}
        if self.digests is None:
            self.digests = got
        self._same("per-op digests across passes", self.digests, got)
        self.out_rows = {k: m["rows"] for k, m in res.items()}

    def verify(self) -> None:
        """``exact_dedup_groups`` and ``ngram_jaccard_pairs``, built as
        ``__spark_entry__.queries()`` builds them, against the DuckDB SQL
        of ``__spark_entry__.oracle_sql()``."""
        import duckdb

        import __spark_entry__ as contract

        queries, oracle = contract.queries(), contract.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"SET temp_directory = '{self.ctx.work}/duckdb'")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.path}')")
            for q in ("exact_dedup_documents", "jaccard_pairs_documents"):
                res = con.execute(oracle[q])
                names = [d[0] for d in res.description]
                want = sorted(res.fetchall())
                got = sorted(tuple(r[c] for c in names)
                             for r in queries[q](self.ctx.spark, self.dir)
                             .collect())
                if got != want:
                    raise Mismatch(f"{self.name}: {q} differs from the "
                                   f"DuckDB oracle ({len(got)} vs "
                                   f"{len(want)} rows)")
        finally:
            con.close()

    def layer_metrics(self, traced_passes):
        api = self.ctx.api
        m = {}
        for name in self.OPS:
            spans = self.tr.named(f"analysis.{name}", traced_passes)
            per = [summarize(api.group(s["group"])) for s in spans]
            pre = f"analysis.{name}."
            m[pre + "s"] = median([s["end"] - s["start"] for s in spans])
            for k in ("stages", "tasks", "executor_run_s",
                      "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes"):
                m[pre + k] = median([p[k] for p in per])
            m[pre + "output_rows"] = self.out_rows[name]
        return m


WORKLOADS = {w.name: w for w in (ExtractMixed, CorpusDedup)}
