"""The benchmark's workloads. Each checks every iteration's output.

``iterate(tracer)`` runs one closed-loop iteration and returns whether its
output was correct; ``tracer`` is a ``tracing.Tracer`` in the traced run
and ``NO_TRACE`` otherwise, so both runs make the same calls.
``layers(tracer, wall)`` (traced run only) makes any extra per-layer calls
and returns the workload's per-layer metrics.

``suite_audio`` and ``audio_kernel`` are the timed workloads.
``suite_schema``, ``resume_schema`` and ``query_leaves`` run once per
traced run, for their per-layer numbers only.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import random
import shutil
import statistics
import sys
from multiprocessing import get_context

import inputs
import kernel
from bench import BENCH_QUERIES

#: clips per seed window; rows add the window's planted duplicates
N_CLIPS = 4000
#: leaf-table rows (the sf0.01 test tables' sizes)
LEAF_ROWS = dict(lineitem=60000, orders=15000, part=2000, events=10000,
                 documents=500, embeddings=500)
CODECS = ("pcm_s16le", "flac", "opus", "mp3", "wma", "null")
DECODE_ERRORS = ("codec_decoder_missing", "bad_flac_header", "bad_flac_frame",
                 "bad_ogg_page", "bad_opus_packet", "bad_mp3_frame",
                 "truncated_payload", "other")
STAT_COLUMNS = ["sr_hz", "dur_ms", "codec"]


class _NoTrace:
    def span(self, name):
        return contextlib.nullcontext()


NO_TRACE = _NoTrace()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Context:
    def __init__(self, root: str, cache: str, seed: int, cores: int):
        self.root, self.cache, self.seed, self.cores = root, cache, seed, cores
        # Spark runs tasks on half the cores: the driver JVM's JIT compiler
        # threads stay busy for ten or more iterations (2-15 CPU-seconds
        # each), and with a task slot on every core they slowed the task
        # waves by a different amount in each JVM
        self.spark_cores = max(1, cores // 2)
        self.scratch = os.path.join(cache, f"run-{os.getpid()}")
        self.spark = None


class ClipFixture:
    """Base of the clip workloads: the seed's window of the fixture."""

    with_audio = False
    #: whether the workload runs on a Spark session
    needs_spark = True
    #: nominal seconds per timed iteration on the 4-core reference host
    iteration_s = 7.0
    #: untimed iterations before the timed ones
    warm_up_iterations = 3

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def timed_iterations(self, seconds: float) -> int:
        """How many iterations a ``seconds``-long run times. It depends on
        ``seconds`` and the workload only, not on how fast the host is."""
        return max(1, round(seconds / self.iteration_s))

    def build(self) -> None:
        c = self.ctx
        self.clips_dir, self.tr_path = inputs.build_clips(
            c.root, c.cache, c.seed, N_CLIPS, c.cores
        )

    def open(self, spark) -> None:
        self.clips = spark.read.parquet(self.clips_dir)
        self.transcripts = spark.read.parquet(self.tr_path)

    def check_setup(self) -> None:
        self.expected = inputs.expected_verdicts(
            self.ctx.seed, N_CLIPS, with_audio=self.with_audio
        )
        self.rows = next(iter(self.expected.values()))[1]

    def warm_up(self, n: int | None = None) -> bool:
        """``n`` untimed iterations (default ``warm_up_iterations``): they
        fill the page cache, start the Python workers and let the JVM
        compile the hot paths. The first takes about three times as long as
        a timed one, and the next two are still 10-40% slower."""
        n = self.warm_up_iterations if n is None else n
        return all([self.iterate(NO_TRACE) for _ in range(n)])

    def close(self) -> None:
        pass


class SuiteAudio(ClipFixture):
    """``runner.validate(check_audio=True, n_buckets=64)``, then collect the
    verdicts, count ``all_violations`` and collect ``stats``."""

    name = "suite_audio"
    with_audio = True

    def check_setup(self) -> None:
        super().check_setup()
        self.stats = None

    def iterate(self, tracer) -> bool:
        from engine.runner import validate

        with tracer.span("runner.plan"):
            res = validate(self.clips, self.transcripts, check_audio=self.with_audio,
                           n_buckets=64)
        with tracer.span("runner.readback"):
            verdicts = {r["constraint"]: (r["violation_count"], r["rows_scanned"])
                        for r in res.verdicts.collect()}
            n_violations = res.all_violations.count()
            stats = sorted(tuple(r) for r in res.stats.collect())
        self.ctx.spark.catalog.clearCache()
        ok = True
        if verdicts != self.expected:
            _log(f"{self.name} verdicts {verdicts} != closed form {self.expected}")
            ok = False
        if n_violations != sum(vc for vc, _ in verdicts.values()):
            _log(f"{self.name}: {n_violations} violation rows != verdict total")
            ok = False
        count = {(c, m): v for c, m, v in stats}.get(("clip_id", "count"))
        if count != self.rows or (self.stats is not None and stats != self.stats):
            _log(f"{self.name}: stats differ from the first iteration or the row count")
            ok = False
        self.stats = self.stats or stats
        return ok

    def _iteration_metrics(self, tracer, wall: float, prefix: str, plan: str) -> dict[str, float]:
        return {
            f"{prefix}.wall_s": wall,
            f"{prefix}.clips_per_s": self.rows / wall,
            plan: tracer.seconds("runner.plan", parent=self.name),
        }

    def layers(self, tracer, wall: float) -> dict[str, float]:
        from pyspark.sql import functions as F

        from engine import audio, checks
        from engine.suite import audio_clip_suite

        with tracer.span("checks"):
            res = checks.run_suite(
                self.clips, audio_clip_suite(), key_cols=["clip_id"],
                refs={"transcripts": self.transcripts}, n_buckets=64,
                stat_columns=[c for c in self.clips.columns if c != "bytes"],
            )
            res.verdicts.collect()
            res.violations_union.count()
            res.stats.collect()
        self.ctx.spark.catalog.clearCache()
        with tracer.span("audio"):
            # cached so the histograms below read the pass's own output
            inv = audio.audio_invariants(self.clips, self.transcripts).cache()
            inv.write.format("noop").mode("overwrite").save()
        out = self._iteration_metrics(tracer, wall, "suite", "runner.plan_s")
        out["checks.suite_s"] = tracer.seconds("checks")
        out["audio.pass_s"] = tracer.seconds("audio")
        out["suite.unattributed_frac"] = 1.0 - (
            out["runner.plan_s"] + out["checks.suite_s"] + out["audio.pass_s"]
        ) / wall
        counts = dict.fromkeys(CODECS, 0)
        for r in self.clips.groupBy("codec").count().collect():
            key = "null" if r["codec"] is None else r["codec"]
            if key not in counts:
                raise ValueError(f"unexpected codec {key!r} in the fixture")
            counts[key] += r["count"]
        out.update({f"audio.clips.{c}": float(n) for c, n in counts.items()})
        errs = dict.fromkeys(DECODE_ERRORS, 0)
        for r in inv.groupBy(F.substring_index("decode_error", ":", 1).alias("e")).count().collect():
            if r["e"] is not None:
                errs[r["e"] if r["e"] in errs else "other"] += r["count"]
        out.update({f"audio.decode_error.{e}": float(n) for e, n in errs.items()})
        inv.unpersist()
        return out


class SuiteSchema(SuiteAudio):
    """The same ``validate`` call with ``check_audio=False``: schema, key and
    referential checks plus column stats, and no audio decode."""

    name = "suite_schema"
    with_audio = False

    def layers(self, tracer, wall: float) -> dict[str, float]:
        return self._iteration_metrics(tracer, wall, "schema", "schema.plan_s")


class AudioKernel(ClipFixture):
    """The audio decode kernel without Spark: ``audio.invariant_batches``,
    the body of the audio pass's ``mapInArrow``, over the seed's whole
    window, one fixture file per task on a pool of one process per core.
    The failing flags must count what the closed form expects of
    ``pcm_snr_invariant``, ``container_sr_consistency`` and
    ``bytes_not_null``."""

    name = "audio_kernel"
    with_audio = True
    needs_spark = False
    iteration_s = 2.0
    warm_up_iterations = 1
    FLAGS = {"pcm_ok": "pcm_snr_invariant", "meta_sr_ok": "container_sr_consistency",
             "bytes_null": "bytes_not_null"}

    def open(self, spark) -> None:
        self.files = kernel.clip_files(self.clips_dir)
        self.pool = get_context("spawn").Pool(self.ctx.cores)

    def iterate(self, tracer) -> bool:
        rows, bad = 0, dict.fromkeys(self.FLAGS.values(), 0)
        for n, counts in self.pool.imap_unordered(kernel.invariant_counts, self.files):
            rows += n
            for flag, name in self.FLAGS.items():
                bad[name] += counts[flag]
        want = {name: self.expected[name][0] for name in bad}
        if bad != want or rows != self.rows:
            _log(f"audio_kernel: {rows} rows with violations {bad}, "
                 f"closed form {self.rows} rows with {want}")
            return False
        return True

    def close(self) -> None:
        self.pool.close()
        self.pool.join()
        # free the pool's semaphores now, while the process that tracks
        # them still runs (the run stops every child process before exit)
        del self.pool
        gc.collect()


class ResumeSchema(ClipFixture):
    """``CheckpointedRunner.run`` with ``audio_clip_suite()``, 8 shards and
    shard storage: crash after 4 shards, resume the same run id, read back
    ``verdicts`` and ``stats``."""

    name = "resume_schema"

    def check_setup(self) -> None:
        super().check_setup()
        self.k = 0

    def iterate(self, tracer) -> bool:
        from engine.checkpoint import CheckpointedRunner
        from engine.suite import audio_clip_suite

        self.k += 1
        d = os.path.join(self.ctx.scratch, f"resume-{self.k}")
        runner = CheckpointedRunner(self.ctx.spark, os.path.join(d, "ckpt"))
        suite = audio_clip_suite()
        kw = dict(refs={"transcripts": self.transcripts}, run_id="bench", n_shards=8,
                  shard_storage_path=os.path.join(d, "shards"), stat_columns=STAT_COLUMNS)
        crashed = False
        with tracer.span("checkpoint.first"):
            try:
                runner.run(self.clips, suite, ["clip_id"], fail_after=4, **kw)
            except RuntimeError as e:
                if "simulated crash" not in str(e):
                    raise
                crashed = True
        with tracer.span("checkpoint.resume"):
            v = runner.run(self.clips, suite, ["clip_id"], **kw)
        with tracer.span("checkpoint.readback"):
            verdicts = {r["constraint"]: (r["violation_count"], r["rows_scanned"])
                        for r in v.collect()}
        with tracer.span("checkpoint.stats_merge"):
            stats = {(r["column_name"], r["metric"]): r["value"]
                     for r in runner.stats("bench").collect()}
        self.last = (runner, d)
        ok = crashed
        if verdicts != self.expected:
            _log(f"resume_schema verdicts {verdicts} != closed form {self.expected}")
            ok = False
        if any(stats.get((c, "count")) != self.rows for c in STAT_COLUMNS):
            _log("resume_schema: merged stats miss the fixture's row count")
            ok = False
        return ok

    def layers(self, tracer, wall: float) -> dict[str, float]:
        runner, d = self.last
        secs = [r["secs"] for r in runner.lineage("bench").collect()]
        written = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(d) for f in fs
        )
        out = {
            "resume.wall_s": wall,
            "checkpoint.first_s": tracer.seconds("checkpoint.first"),
            "checkpoint.resume_s": tracer.seconds("checkpoint.resume"),
            "checkpoint.shard_s": statistics.median(secs),
            "checkpoint.stats_merge_s": tracer.seconds("checkpoint.stats_merge"),
            "checkpoint.bytes_written_mb": written / 2**20,
            "snapshots.commits": float(
                len(runner.table.snapshots()) + len(runner.stats_table.snapshots())
            ),
        }
        spans = (out["checkpoint.first_s"] + out["checkpoint.resume_s"]
                 + out["checkpoint.stats_merge_s"] + tracer.seconds("checkpoint.readback"))
        out["resume.unattributed_frac"] = 1.0 - spans / wall
        shutil.rmtree(d, ignore_errors=True)
        return out


def _cell(v) -> str:
    """Canonical text of one output cell: floats (and decimals) to 9
    significant digits, with -0.0 read as 0.0."""
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    return str(v)


def _canonical(cols, rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_cell(r[i]) for i in order) for r in rows)


class QueryLeaves:
    """One sweep of bench.py's 15 leaves over the seed's leaf tables. Each
    leaf is timed as plan build (``fn(spark, dir)``) and execution, which
    collects the output and compares it with the leaf's DuckDB oracle
    (``simhash_documents`` has none: one row per document). The seed draws
    the tables and permutes leaf order."""

    name = "query_leaves"
    needs_spark = True

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.order = list(BENCH_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)

    def build(self) -> None:
        c = self.ctx
        self.dir = inputs.build_leaf_tables(c.root, c.cache, c.seed, LEAF_ROWS)

    def open(self, spark) -> None:
        pass

    def check_setup(self) -> None:
        """Evaluate every leaf's oracle over the seed's tables."""
        import duckdb

        from engine import queries

        con = duckdb.connect()
        try:
            for t in inputs.LEAF_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.want = {}
            for name in self.order:
                if name in queries.ORACLE:
                    rel = con.sql(queries.ORACLE[name])
                    self.want[name] = _canonical(rel.columns, rel.fetchall())
        finally:
            con.close()

    def iterate(self, tracer) -> bool:
        from engine import queries

        ok = True
        for name in self.order:
            fn = queries.Q[name] if name in queries.Q else getattr(queries, name)
            with tracer.span(f"leaf.{name}.plan"):
                df = fn(self.ctx.spark, self.dir)
            with tracer.span(f"leaf.{name}.exec"):
                got = df.collect()
            if name in self.want:
                good = _canonical(df.columns, got) == self.want[name]
            else:
                good = len(got) == LEAF_ROWS["documents"]
            if not good:
                _log(f"leaf {name}: output differs from its oracle")
                ok = False
        return ok

    def layers(self, tracer, wall: float) -> dict[str, float]:
        out = {"leaves.wall_s": wall}
        for name in BENCH_QUERIES:
            for part in ("plan", "exec"):
                out[f"leaf.{name}.{part}_s"] = tracer.seconds(f"leaf.{name}.{part}")
        spans = sum(v for k, v in out.items() if k.startswith("leaf."))
        out["leaves.unattributed_frac"] = 1.0 - spans / wall
        return out


#: timed workloads first, then the ones measured in the traced run only
WORKLOADS = {w.name: w for w in (SuiteAudio, AudioKernel, SuiteSchema, ResumeSchema,
                                  QueryLeaves)}
