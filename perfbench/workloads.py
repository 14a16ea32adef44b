"""The workloads: one pass each, its output check, its layer probes.

``audio_suite`` and ``table_append`` are timed workloads.  ``AudioCurate``
(training-audio preparation plus the dataset card) has the same shape
but only runs inside the traced run, as a probe of the ``audio`` layer's
``mapInPandas`` decode loops: a timed workload of its own does not fit
the benchmark's time budget.

Every pass builds fresh DataFrames and fresh rule objects and ends with
``unpersist()`` plus ``clearCache()``: ``AudioConsistencyRule._info`` and
the drift/outlier memos (``_cur_cache``, ``_q_cache``) are keyed on
object identity, so reusing either would turn later passes into cache
hits.  Layers are driven only through their public functions; each call
sits in a tracer span named after the layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Dict, List

import checks
import inputs

AUDIO_N = 2000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _payload_bytes_on_disk(clips_dir: str) -> int:
    """Compressed size of the ``bytes`` column chunks of the clip table."""
    import pyarrow.parquet as pq

    total = 0
    for name in sorted(os.listdir(clips_dir)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(clips_dir, name)).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema == "bytes":
                    total += col.total_compressed_size
    return total


class AudioSuite:
    """``validate_audio_table(df, manifest, check_snr=True)`` + emit."""

    name = "audio_suite"
    # the pass after the cold one still spends ~40% more CPU, on JIT
    # compilation, than the passes after it
    warmup_passes = 2

    def __init__(self, seed: int, n: int = AUDIO_N):
        self.seed, self.n = seed, n

    def generate(self) -> None:
        self.inp = inputs.audio_inputs(self.seed, self.n)
        self.items = self.n
        self.payload_disk = _payload_bytes_on_disk(self.inp["clips"])

    def check_inputs(self, spark, work: str) -> None:
        n = spark.read.parquet(self.inp["clips"]).count()
        nm = spark.read.parquet(self.inp["manifest"]).count()
        if n != self.n or nm != self.n + max(1, self.n // 100):
            raise RuntimeError(f"cached clip input has {n} clips and {nm} "
                               f"manifest rows; expected {self.n}")

    def run_pass(self, spark, tr, work: str) -> Dict:
        from datatest_spark.suite import validate_audio_table

        df = spark.read.parquet(self.inp["clips"])
        manifest = spark.read.parquet(self.inp["manifest"])
        res = None
        out = {}
        try:
            with tr.span("suite.compile"):
                res = validate_audio_table(df, manifest=manifest,
                                           check_snr=True)
            if tr.enabled:
                out["cache_bytes"] = tr.store.cached_bytes()
            # collect, not count: the same jobs materialize the whole
            # violation stream, and the rows feed the output check
            # without a second execution
            with tr.span("suite.emit"):
                out["rows"] = [tuple(r[c] for c in checks.VIOLATION_COLS)
                               for r in res.violations.collect()]
        finally:
            if res is not None:
                res.unpersist()
            spark.catalog.clearCache()
        return out

    def check(self, spark, out: Dict) -> List[str]:
        return checks.check_suite(out["rows"], self.inp["suite_expected"])

    def probes(self, spark, tr) -> Dict[str, float]:
        """Isolated layer timings: noop-sink scan, decode, and one
        ``Engine.compile`` fragment each over the persisted decode frame."""
        from pyspark.sql import functions as F

        from datatest_spark.audio import AudioConsistencyRule, decode_info
        from datatest_spark.requirements import ValidationContext
        from datatest_spark.suite import audio_rules
        from datatest_spark.validation import Engine

        df = spark.read.parquet(self.inp["clips"])
        manifest = spark.read.parquet(self.inp["manifest"])
        cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "part_id",
                "transcript"]
        got = {}
        with tr.span("sources.scan") as sp:
            _noop(df.select(*cols))
        got["sources.scan"] = sp
        with tr.span("audio.decode_info") as sp:
            _noop(decode_info(df, carry=["transcript"]))
        got["audio.decode_info"] = sp

        rules = {r.rule_id: r for r in audio_rules(manifest=manifest,
                                                   check_snr=True)}
        acr = next(r for r in rules.values()
                   if isinstance(r, AudioConsistencyRule))
        ctx = ValidationContext(df, partition_col="part_id")
        try:
            info = acr.decode_frame(ctx, carry=["transcript"])
            info.count()
            part = F.col("partition_id").alias("part_id")
            meta = info.select("clip_id", "sr_hz", "dur_ms", "codec", part)
            refsrc = info.select("clip_id", "transcript", part)
            engine = Engine(spark)
            fragments = {
                "engine.row_rules": (meta, ["interval:sr_hz",
                                            "interval:dur_ms",
                                            "sr_hz:allowed",
                                            "regex:clip_id"]),
                "engine.unique": (meta, ["unique:clip_id"]),
                "engine.codec_set": (meta, ["subset:codec"]),
                "engine.manifest_subset": (meta,
                                           ["subset:clip_id_manifest"]),
                "engine.ref_match": (refsrc, ["ref_match:transcript"]),
            }
            for name, (src, ids) in fragments.items():
                with tr.span(name) as sp:
                    _noop(engine.compile(src, [rules[i] for i in ids],
                                         partition_col="part_id"))
                got[name] = sp
        finally:
            for d in ctx.cached:
                d.unpersist()
            spark.catalog.clearCache()
        return got


class AudioCurate:
    """``prepare_training_audio`` written to parquet + ``dataset_card``
    (traced run only)."""

    name = "audio_curate"

    def __init__(self, seed: int, n: int = AUDIO_N):
        self.seed, self.n = seed, n

    def generate(self) -> None:
        self.inp = inputs.audio_inputs(self.seed, self.n)
        self.n_undecodable = sum(1 for r in self.inp["suite_expected"]
                                 if r[0] == "audio:decodable")
        self.payload_disk = _payload_bytes_on_disk(self.inp["clips"])
        # the first pass over this input records the digest of its
        # output; every later pass, in any run, must reproduce it
        self.digest_path = os.path.join(os.path.dirname(self.inp["clips"]),
                                        "prepared_digest.json")

    def run_pass(self, spark, tr, work: str) -> Dict:
        from datatest_spark import audio

        df = spark.read.parquet(self.inp["clips"])
        out_dir = os.path.join(work, "prepared")
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            with tr.span("audio.prepare"):
                audio.prepare_training_audio(
                    df, window_ms=inputs.PREPARE_WINDOW_MS
                ).write.parquet(out_dir)
            with tr.span("audio.card"):
                card = [r.asDict() for r in audio.dataset_card(df).collect()]
        finally:
            spark.catalog.clearCache()
        return {"out_dir": out_dir, "card": card}

    def check(self, spark, out: Dict) -> List[str]:
        from pyspark.sql import functions as F

        prepared = spark.read.parquet(out["out_dir"])
        agg = prepared.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("clip_id", "chunk_idx", "start_ms",
                                 "chunk_ms", "gain_db", "bytes")).alias("x"),
        ).first()
        out["chunks"] = agg["n"]
        sample = prepared.filter(
            F.col("clip_id").isin(self.inp["prepare_sample"])).collect()
        rows = [[r["clip_id"], r["ok"], r["chunk_idx"], r["start_ms"],
                 r["chunk_ms"], r["sr_hz"], r["gain_db"],
                 None if r["bytes"] is None
                 else hashlib.sha256(r["bytes"]).hexdigest()]
                for r in sample]
        problems = checks.check_prepare(rows, self.inp["prepare_expected"])
        problems += checks.check_card(out["card"], self.n, self.n_undecodable)
        digest = [agg["n"], agg["x"]]
        if os.path.exists(self.digest_path):
            with open(self.digest_path) as fh:
                if json.load(fh) != digest:
                    problems.append("prepared output digest differs from "
                                    "the first pass over this input")
        else:
            with open(self.digest_path, "w") as fh:
                json.dump(digest, fh)
        shutil.rmtree(out["out_dir"], ignore_errors=True)
        return problems


class TableAppend:
    """Checkpointed commit, resume and no-op resume over lineitem, then
    a profile of the new half merged with the committed half's."""

    name = "table_append"
    warmup_passes = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.profile_dir = None

    def generate(self) -> None:
        self.inp = inputs.table_inputs(self.seed)
        path = os.path.join(os.path.dirname(self.inp["lineitem"]),
                            "expected.json")
        if not os.path.exists(path):
            exp = checks.table_expected(self.inp["lineitem"],
                                        self.inp["orders"],
                                        self.inp["committed_parts"],
                                        self.inp["new_parts"])
            with open(path + ".tmp", "w") as fh:
                json.dump(exp, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            self.expected = json.load(fh)
        self.items = self.expected["n_rows"]

    def _rules(self, orders):
        from datatest_spark import requirements as R
        from datatest_spark import stats

        c = checks
        return [
            R.interval("l_quantity", *c.QTY_RANGE,
                       rule_id="interval:l_quantity"),
            R.interval("l_tax", *c.TAX_RANGE, rule_id="interval:l_tax"),
            R.predicate("l_returnflag", set(c.RETURN_FLAGS),
                        rule_id="set:l_returnflag"),
            R.regex("l_shipinstruct", c.SHIPINSTRUCT_RE,
                    rule_id="regex:l_shipinstruct"),
            R.unique(["l_orderkey", "l_linenumber"],
                     rule_id="unique:l_orderkey,l_linenumber"),
            R.subset("l_orderkey", orders.select("o_orderkey"),
                     rule_id="subset:l_orderkey"),
            stats.drift_psi("l_extendedprice", c.DRIFT_BASELINE,
                            threshold=c.DRIFT_THRESHOLD,
                            rule_id="drift_psi:l_extendedprice"),
            stats.outliers("l_extendedprice", multiplier=c.OUTLIER_MULT,
                           rule_id="outliers:l_extendedprice"),
        ]

    def _mandatory(self):
        from datatest_spark import requirements as R

        return [R.interval("l_extendedprice", 0, checks.MANDATORY_MAX_PRICE,
                           rule_id="mandatory:l_extendedprice")]

    def _profile(self, df):
        from datatest_spark import stats

        return stats.partitioned_profile(
            df, checks.PROFILE_COLS, partition_col="part_id",
            bin_edges=checks.PROFILE_EDGES, tdigest=checks.TDIGEST_COLS)

    def _half(self, df, parts):
        from pyspark.sql import functions as F

        return df.filter(F.col("part_id").isin(parts))

    def check_inputs(self, spark, work: str) -> None:
        li = spark.read.parquet(self.inp["lineitem"])
        n = li.count()
        if n != self.items:
            raise RuntimeError(f"cached lineitem has {n} rows, expected "
                               f"{self.items}")
        # the committed half's profile, stored once per run as a
        # previous append would have left it
        if self.profile_dir is None:
            self.profile_dir = os.path.join(work, "profile_committed")
            self._profile(self._half(li, self.inp["committed_parts"])) \
                .write.mode("overwrite").parquet(self.profile_dir)

    def run_pass(self, spark, tr, work: str) -> Dict:
        from datatest_spark import stats
        from datatest_spark.plans import run_checkpointed

        li = spark.read.parquet(self.inp["lineitem"])
        orders = spark.read.parquet(self.inp["orders"])
        ck = os.path.join(work, "checkpoint")
        new_prof = os.path.join(work, "profile_new")
        for d in (ck, new_prof):
            shutil.rmtree(d, ignore_errors=True)
        out = {"ck": ck, "new_prof": new_prof}
        try:
            # fresh rule objects per call, as separate jobs would build
            # them: a rule's memo enters its fingerprint
            with tr.span("checkpoint.first"):
                out["first"] = run_checkpointed(
                    self._half(li, self.inp["committed_parts"]),
                    self._rules(orders), "part_id", ck,
                    mandatory=self._mandatory())
            with tr.span("checkpoint.resume"):
                out["resume"] = run_checkpointed(
                    li, self._rules(orders), "part_id", ck,
                    mandatory=self._mandatory())
            with tr.span("checkpoint.noop_resume"):
                out["noop"] = run_checkpointed(
                    li, self._rules(orders), "part_id", ck,
                    mandatory=self._mandatory())
            with tr.span("stats.profile"):
                self._profile(self._half(li, self.inp["new_parts"])) \
                    .write.parquet(new_prof)
            with tr.span("stats.merge"):
                merged = stats.merge_profiles(
                    spark.read.parquet(self.profile_dir, new_prof))
                out["merged"] = [r.asDict(recursive=True)
                                 for r in merged.collect()]
        finally:
            spark.catalog.clearCache()
        return out

    def check(self, spark, out: Dict) -> List[str]:
        verdicts = [tuple(r[c] for c in checks.VERDICT_COLS)
                    for r in out["noop"].verdicts.collect()]
        problems = checks.check_verdicts(verdicts, self.expected["verdicts"])
        problems += checks.check_resume(
            out["first"], out["resume"], out["noop"],
            self.inp["committed_parts"], self.inp["new_parts"])
        problems += checks.check_profile(out["merged"],
                                         self.expected["profile"])
        for d in (out["ck"], out["new_prof"]):
            shutil.rmtree(d, ignore_errors=True)
        return problems

    def probes(self, spark, tr) -> Dict[str, float]:
        """``Engine.compile`` of the rule set over the new half: the call
        itself runs the drift and outlier compile-time jobs."""
        from datatest_spark.validation import Engine

        li = spark.read.parquet(self.inp["lineitem"])
        orders = spark.read.parquet(self.inp["orders"])
        with tr.span("engine.compile") as sp:
            Engine(spark).compile(self._half(li, self.inp["new_parts"]),
                                  self._rules(orders),
                                  partition_col="part_id")
        spark.catalog.clearCache()
        return {"engine.compile": sp}


WORKLOADS = {w.name: w for w in (AudioSuite, TableAppend)}
