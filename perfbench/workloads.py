"""The workloads.  Each calls only the package's public API:
``pipelines`` (``run_all``/``union_all``), ``sources.m49``,
``sources.sinks``, ``database``, ``operators.text`` and
``operators.dedup``.

Every workload follows the same shape: ``generate`` (inputs, in a child
process), ``setup`` (untimed warm-up), a closed-loop ``run`` until the
deadline, and a ``check`` pass after the loop that validates every timed
operation's output against the generator's ground truth.
"""

from __future__ import annotations

import functools
import os
import time
import zlib
from contextlib import contextmanager, nullcontext

import gen
from harness import in_child, percentile, tree_cpu_s

CHECK_SEP = "|"


def closed_loop(op, deadline: float, min_ops: int) -> list[dict]:
    """Run ``op(k)`` back to back until ``deadline``.  ``min_ops`` always
    run; after that an op starts only if the previous one's duration
    still fits before the deadline, so a run never overshoots its
    window by a whole operation."""
    done: list[dict] = []
    while len(done) < min_ops or time.time() + done[-1]["wall"] <= deadline:
        done.append(op(len(done)))
    return done


def row_checksum(name, iso3, year, dim, value) -> int:
    """crc32 of one canonical row; the Spark twin is ``_spark_checksum``."""
    key = CHECK_SEP.join((name, iso3, str(year), dim, str(int(round(value * 1000)))))
    return zlib.crc32(key.encode())


def _spark_checksum(name, iso3, year, dim, value):
    from pyspark.sql import functions as F

    return F.crc32(F.concat_ws(
        CHECK_SEP, name, iso3, year.cast("string"), dim,
        F.round(value * 1000).cast("bigint").cast("string")))


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) on disk under ``path`` (checksums excluded)."""
    total, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


# --------------------------------------------------------------------------
# etl_refresh
# --------------------------------------------------------------------------


PIPELINE_SPANS = {
    "retrieve": "sources.retrieve",
    "transform": "pipelines.transform",
    "load": "pipelines.load",
}


@contextmanager
def trace_pipeline(tracer):
    """Wrap ``Pipeline.retrieve/transform/load`` in spans while the block
    runs (traced run only), so ``run_all`` itself stays the package's
    code and the untraced run calls it unchanged."""
    from dfx_indicators_etl_spark.pipelines import Pipeline

    orig = {m: getattr(Pipeline, m) for m in PIPELINE_SPANS}

    def wrap(method: str):
        fn = orig[method]

        @functools.wraps(fn)
        def traced(self, *args, **kwargs):
            with tracer.span(PIPELINE_SPANS[method], provider=self.retriever.provider):
                return fn(self, *args, **kwargs)
        return traced

    for m in PIPELINE_SPANS:
        setattr(Pipeline, m, wrap(m))
    try:
        yield
    finally:
        for m, fn in orig.items():
            setattr(Pipeline, m, fn)


class EtlRefresh:
    """One client, back-to-back full refreshes of all 12 sources."""

    name = "etl_refresh"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs: gen.EtlInputs | None = None
        self.done: list[dict] = []  # one record per timed refresh

    def generate(self, seed: int) -> dict:
        self.inputs = in_child(gen.gen_etl, os.path.join(self.ctx.work, "inputs"), seed,
                               self.ctx.repo)
        return dict(self.inputs.stats, sources=len(self.inputs.files))

    def refresh(self, root: str, op_id: str) -> dict:
        """``pipelines.run_all`` over the 12 sources (retrieve -> transform
        (+M49, year window) -> versioned load each), then the star build
        over the union and its four table writes."""
        from dfx_indicators_etl_spark import database, pipelines
        from dfx_indicators_etl_spark.sources import m49 as m49_mod
        from dfx_indicators_etl_spark.sources import sinks

        spark, tr, inp = self.ctx.spark, self.ctx.tracer, self.inputs
        settings = pipelines.PipelineSettings(year_min=gen.YEAR_MIN, year_max=gen.YEAR_MAX)
        t0, c0 = time.perf_counter(), tree_cpu_s(self.ctx.jvm_pid)
        with tr.span("refresh", op_id=op_id):
            with tr.span("sources.m49"):
                m49 = m49_mod.load_m49(spark)
            staged = {
                p: {"path": inp.files[p]} if inp.kind[p] == "path"
                else {"payload": sinks.read_dataset(spark, inp.files[p])}
                for p in gen.SOURCES
            }
            with trace_pipeline(tr) if tr.enabled else nullcontext():
                results = pipelines.run_all(
                    spark, staged, storage_root=os.path.join(root, "sources"),
                    country_mapping=m49, countries=m49, settings=settings)
            with tr.span("database.build_star"):
                union = pipelines.union_all(list(results.values()))
                star = database.build_star_schema(union, m49_mod.m49_country_dim(m49))
                paths = {
                    name: sinks.write_dataset(df, os.path.join(root, "star"), name, version="v1")
                    for name, df in star.items()
                }
        wall = time.perf_counter() - t0
        return {"op_id": op_id, "root": root, "star": paths, "wall": wall,
                "cpu": tree_cpu_s(self.ctx.jvm_pid) - c0}

    def setup(self) -> None:
        """No warm-up refresh.  A refresh runs as a batch job in a fresh
        process, so the timed refresh is the first one after the
        session's first job, JIT compilation included; a second refresh
        per run does not fit the per-run budget."""

    def run(self, deadline: float) -> None:
        self.done = closed_loop(
            lambda k: self.refresh(os.path.join(self.ctx.work, "store", f"r{k}"), f"r{k}"),
            deadline, min_ops=1)

    def expected_sums(self) -> dict[str, tuple[int, int]]:
        out = {}
        for provider, rows in self.inputs.expected.items():
            out[provider] = (len(rows), sum(row_checksum(*r) for r in rows))
        return out

    def check_store(self, rec: dict, expect: dict) -> list[str]:
        """Landed per-source counts and contents, and the star joined
        back through its three dimensions, against the generator."""
        from pyspark.sql import functions as F

        from dfx_indicators_etl_spark.sources import sinks

        spark, errors = self.ctx.spark, []
        landed = sinks.read_dataset(spark, os.path.join(rec["root"], "sources", "*", "*.parquet"))
        got = {
            r["provider"]: (r["n"], r["chk"])
            for r in landed.groupBy("provider").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(_spark_checksum(F.col("indicator_name"), F.col("country_code"),
                                      F.col("year"), F.col("dimension"), F.col("value"))).alias("chk"),
            ).collect()
        }
        for provider, (n, chk) in expect.items():
            if got.get(provider) != (n, chk):
                errors.append(f"{rec['op_id']} {provider}: landed {got.get(provider)} expected {(n, chk)}")
        star = {k: sinks.read_dataset(spark, p) for k, p in rec["star"].items()}
        recon = (
            star["series"]
            .join(star["country"].select(F.col("id").alias("country_id"), "iso_3"), "country_id")
            .join(star["indicator"].select(F.col("id").alias("indicator_id"),
                                           F.col("name").alias("ind")), "indicator_id")
            .join(star["dimension"].select(F.col("id").alias("dimension_id"),
                                           F.col("name").alias("dim")), "dimension_id")
        )
        n, chk = recon.agg(
            F.count(F.lit(1)),
            F.sum(_spark_checksum(F.col("ind"), F.col("iso_3"), F.col("year"), F.col("dim"),
                                  F.col("value"))),
        ).first()
        want = (sum(v[0] for v in expect.values()), sum(v[1] for v in expect.values()))
        if (n, chk) != want:
            errors.append(f"{rec['op_id']} star reconstruction {(n, chk)} expected {want}")
        return errors

    def check(self) -> tuple[int, int, list[str]]:
        expect = self.expected_sums()
        errors = []
        for rec in self.done:
            errors += self.check_store(rec, expect)
            rec["bytes"], rec["files"] = du(rec["root"])
        failed = len({e.split()[0] for e in errors})
        return len(self.done), failed, errors

    def report(self) -> dict:
        walls = [r["wall"] for r in self.done]
        rows = sum(len(v) for v in self.inputs.expected.values())
        p50 = percentile(walls, 50)
        cpu = percentile([r["cpu"] for r in self.done], 50)
        return {
            "refresh_s_p50": (p50, "s"),
            "refresh_cpu_s_p50": (cpu, "s"),
            "store_bytes_per_row": (self.done[0]["bytes"] / rows, "B"),
            "_samples": {"refresh": len(walls)},
            "_generic": {"op_wall_s_p50": p50, "op_cpu_s_p50": cpu,
                         "bytes_per_row": self.done[0]["bytes"] / rows},
        }

    def layer_extras(self, spans, counters) -> dict:
        rows_in = sum(self.inputs.raw_values.values())
        rows_loaded = sum(len(v) for v in self.inputs.expected.values())
        refresh = [s for s in spans if s.name == "refresh" and s.op_id != "warm"]
        busy = sum(counters[s.id]["task_busy_s"] for s in refresh)
        wall = sum(s.wall for s in refresh)
        rec = self.done[0]
        return {
            "pipelines.rows_in": (rows_in, "count"),
            "pipelines.rows_loaded": (rows_loaded, "count"),
            "pipelines.keep_ratio": (rows_loaded / rows_in, "share"),
            "pipelines.core_util": (busy / (wall * 4) if wall else 0.0, "share"),
            "sources.bytes_written": (rec["bytes"], "B"),
            "sources.files_written": (rec["files"], "count"),
        }


# --------------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------------


class CorpusDedup:
    """One client, back-to-back dedup passes: quality_filter ->
    exact_dedup -> minhash_lsh_pairs -> connected_components_star ->
    survivors anti-join -> write_dataset."""

    name = "corpus_dedup"
    n_docs = 2000

    def __init__(self, ctx):
        self.ctx = ctx
        self.done: list[dict] = []

    def generate(self, seed: int) -> dict:
        self.corpus = in_child(gen.gen_corpus, os.path.join(self.ctx.work, "inputs"), seed,
                               self.n_docs)
        return self.corpus.stats

    def dedup_pass(self, op_id: str) -> dict:
        from pyspark.sql import functions as F

        from dfx_indicators_etl_spark.operators import dedup, text
        from dfx_indicators_etl_spark.sources import sinks

        spark, tr = self.ctx.spark, self.ctx.tracer
        root = os.path.join(self.ctx.work, "dedup")
        t0, c0 = time.perf_counter(), tree_cpu_s(self.ctx.jvm_pid)
        with tr.span("pass", op_id=op_id):
            docs = sinks.read_dataset(spark, self.corpus.path)
            with tr.span("text.quality_filter"):
                kept = text.quality_filter(docs).localCheckpoint(eager=True)
            with tr.span("dedup.exact"):
                groups = dedup.exact_dedup(kept)
                unique = (
                    kept.withColumn("text_hash", F.sha2("text", 256))
                    .join(groups, "text_hash")
                    .filter(F.col("doc_id") == F.col("keep_doc_id"))
                    .select("doc_id", "text")
                    .localCheckpoint(eager=True)
                )
            with tr.span("dedup.lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(unique).localCheckpoint(eager=False)
                n_pairs = pairs.count()  # materializes the checkpoint
            with tr.span("dedup.components"):
                comps = dedup.connected_components_star(pairs)
            with tr.span("dedup.survivors_write"):
                dropped = comps.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
                survivors = unique.join(dropped, "doc_id", "left_anti")
                path = sinks.write_dataset(survivors, root, "survivors", version=op_id)
        return {"op_id": op_id, "path": path, "pairs": n_pairs, "wall": time.perf_counter() - t0,
                "cpu": tree_cpu_s(self.ctx.jvm_pid) - c0}

    def setup(self) -> None:
        self.dedup_pass("warm")

    def run(self, deadline: float) -> None:
        # two passes at least: the first pass after the warm-up still
        # pays for JIT compilation, so one pass alone reads high
        self.done = closed_loop(lambda k: self.dedup_pass(f"p{k}"), deadline, min_ops=2)

    def check(self) -> tuple[int, int, list[str]]:
        """Survivors must exclude every quality failure and keep exactly
        one copy of each exact duplicate; recall and precision of the
        dropped docs are measured against the ground-truth clusters."""
        from pyspark.sql import functions as F

        from dfx_indicators_etl_spark.sources import sinks

        back = sinks.read_dataset(self.ctx.spark, os.path.join(self.ctx.work, "dedup", "p*", "*.parquet"))
        by_pass: dict[str, set] = {}
        for r in back.select(F.regexp_extract(F.input_file_name(), r"/(p\d+)/", 1).alias("v"),
                             "doc_id").collect():
            by_pass.setdefault(r["v"], set()).add(r["doc_id"])
        c = self.corpus
        clean = [d for d in c.cluster if d not in c.bad]
        size: dict[int, int] = {}
        for d in clean:
            size[c.cluster[d]] = size.get(c.cluster[d], 0) + 1
        true_dups = sum(n - 1 for n in size.values())
        errors, bad, self.quality = [], set(), []
        for rec in self.done:
            surv = by_pass.get(rec["op_id"], set())
            if surv & c.bad:
                errors.append(f"{rec['op_id']}: {len(surv & c.bad)} quality failures survived")
                bad.add(rec["op_id"])
            dropped = [d for d in clean if d not in surv]
            # true positives: dropped docs of multi-doc clusters, at most
            # (size - 1) per cluster
            per: dict[int, int] = {}
            for d in dropped:
                per[c.cluster[d]] = per.get(c.cluster[d], 0) + 1
            tp = sum(min(k, size[cl] - 1) for cl, k in per.items())
            recall = tp / true_dups
            precision = tp / len(dropped) if dropped else 0.0
            self.quality.append((recall, precision, len(dropped)))
            if not surv:
                errors.append(f"{rec['op_id']}: no survivors")
                bad.add(rec["op_id"])
        self.survivor_bytes = du(os.path.dirname(self.done[0]["path"]))[0]
        self.survivors = len(by_pass.get(self.done[0]["op_id"], ()))
        return len(self.done), len(bad), errors

    def report(self) -> dict:
        walls = [r["wall"] for r in self.done]
        p50 = percentile(walls, 50)
        cpu = percentile([r["cpu"] for r in self.done], 50)
        recall = sorted(q[0] for q in self.quality)[len(self.quality) // 2]
        precision = sorted(q[1] for q in self.quality)[len(self.quality) // 2]
        return {
            "dedup_docs_per_s": (self.n_docs / p50, "1/s"),
            "dedup_recall": (recall, "share"),
            "dedup_precision": (precision, "share"),
            "pass_s_p50": (p50, "s"),
            "pass_cpu_s_p50": (cpu, "s"),
            "_samples": {"pass": len(walls)},
            "_generic": {
                "op_wall_s_p50": p50,
                "op_cpu_s_p50": cpu,
                "bytes_per_row": self.survivor_bytes / max(1, self.survivors),
                "quality": 2 * recall * precision / (recall + precision) if recall + precision else 0.0,
            },
        }

    def layer_extras(self, spans, counters) -> dict:
        passes = [s for s in spans if s.name == "pass" and s.op_id != "warm"]
        comp = [s for s in spans if s.name == "dedup.components" and s.op_id != "warm"]
        n = max(1, len(passes))
        return {
            "dedup.pairs": (self.done[0]["pairs"], "count"),
            "dedup.components.rounds": (sum(counters[s.id]["jobs"] for s in comp) / n, "count"),
            "dedup.docs_dropped": (self.quality[0][2], "count"),
        }


WORKLOADS = {w.name: w for w in (EtlRefresh, CorpusDedup)}
