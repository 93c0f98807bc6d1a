"""The benchmark workloads: inputs, one operation, traced variants, checks.

Each workload composes the library's public operators exactly as a user
would. ``Curation.stages(i)`` is a generator that builds the curation
pass's plan from scratch and yields the frame after each operator call; the
traced run cuts it after each yield to time every prefix (prefix
attribution).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

import inputs
import oracles

from systems_spark.dedup.decontaminate import decontaminate
from systems_spark.functions import pii
from systems_spark.functions import text as TX
from systems_spark.functions.hashing import hash64
from systems_spark.operators.boilerplate import remove_boilerplate
from systems_spark.operators.packing import SequencePacker
from systems_spark.operators.sampler import MixtureSampler
from systems_spark.pinning import pin
from systems_spark.sources import load_table
from systems_spark.streaming import PartitionedCdcTable

# the flagship lanes' configuration and oracle SQL: the benchmark composes
# exactly what the repository's oracle-checked lanes compose
import __spark_entry__ as lanes


class Workload:
    """One workload. ``rows(i)`` is the number of input rows operation ``i``
    completes; ``warmup_ops`` operations run before the timed window."""

    name = ""
    warmup_ops = 1
    capacity = 1 << 30          # operations the generated inputs can feed

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.results: "dict[int, object]" = {}

    def setup(self) -> None:
        raise NotImplementedError

    def rows(self, i: int) -> int:
        raise NotImplementedError

    def op(self, i: int, trace=None) -> None:
        """Run operation ``i``; keep what the checks need in ``results``.
        With a tracer, wrap the calls into each layer in spans."""
        raise NotImplementedError

    def check(self) -> "list[str]":
        raise NotImplementedError

    def close(self) -> None:
        pass


# -- curation -------------------------------------------------------------------

class Curation(Workload):
    """Each operation is one curation_pipeline pass over a fresh sample of
    the corpus, read through ``sources.load_table``.

    The operation runs the ``curation_pipeline`` lane itself. ``stages(i)``
    is the lane's composition split at each operator call, for prefix
    attribution; ``LAYERS`` names the calls, and ``RATIO`` is (metric,
    layer a, layer b): rows after b over rows after a. Traced runs collect
    the split composition too, and it must pass the same check as the lane
    (``split_results``), so the prefixes stay cut from what is measured."""

    name = "curation"
    warmup_ops = 2
    SAMPLES = 48
    LAYERS = ("functions.pii", "operators.boilerplate", "functions.quality_gate",
              "dedup.decontaminate", "dedup.exact", "operators.sampler",
              "operators.packing")
    # documents kept by decontamination, of those that passed the quality gate
    RATIO = ("dedup.decontaminate.kept_ratio", "functions.quality_gate",
             "dedup.decontaminate")

    def setup(self) -> None:
        self.samples = inputs.corpus_samples(self.seed, self.SAMPLES)
        self.dirs = []
        for j, s in enumerate(self.samples):
            d = os.path.join(self.work, "corpus", f"s{j}")
            inputs.write_parquet(s, os.path.join(d, "documents.parquet"))
            self.dirs.append(d)
        self.oracle = oracles.CurationOracle(lanes._sql_curation_pipeline())
        self.split_results: "dict[int, list[tuple]]" = {}

    def rows(self, i: int) -> int:
        return len(self.samples[i % self.SAMPLES])

    def stages(self, i: int):
        spark, d = self.spark, self.dirs[i % self.SAMPLES]
        docs = load_table(spark, d, "documents")
        red = docs.select("doc_id", "source", "lang",
                          pii.redact(lanes._pii_augmented(F.col("text"))).alias("rtext"))
        yield red
        clean = remove_boilerplate(red, text_col="rtext", seg_words=lanes._BP_SEG,
                                   max_freq=lanes._BP_MAXFREQ)
        staged = clean.join(red.select("doc_id", "source", "lang"), "doc_id")
        yield staged
        qual = pin(
            staged.withColumn("n_tokens", TX.token_count(F.col("clean_text")).cast("long"))
            .withColumn("quality", TX.quality_score(F.col("clean_text")))
            .where((F.col("n_tokens") >= lanes._PIPE_MIN_TOKENS)
                   & (F.col("quality") >= lanes._PIPE_MIN_QUALITY)),
            corpus_scale=True)
        yield qual
        eval_docs = qual.where(F.col("doc_id") % 37 == 0)
        corpus = qual.where(F.col("doc_id") % 37 != 0)
        flags = decontaminate(corpus, eval_docs, text_col="clean_text", k=3,
                              threshold=lanes._PIPE_DECON_THRESHOLD)
        kept = corpus.join(flags.where(~F.col("contaminated")).select("doc_id"), "doc_id")
        yield kept
        wmin = F.min("doc_id").over(Window.partitionBy(hash64(F.col("clean_text"))))
        deduped = pin(kept.withColumn("_minid", wmin)
                      .where(F.col("doc_id") == F.col("_minid"))
                      .select("doc_id", "source", "lang", "n_tokens"),
                      corpus_scale=True)
        yield deduped
        mixed = MixtureSampler("doc_id", "source", lanes._PIPE_WEIGHTS, salt="pipe")(deduped)
        yield mixed
        packed = SequencePacker("doc_id", "n_tokens", lanes._PIPE_BUDGET,
                                n_shards=lanes._PIPE_SHARDS)(
            mixed.select("doc_id", "source", "lang", "n_tokens"))
        yield packed.select(
            "doc_id", "source", "lang", "n_tokens", "shard", "seq_in_shard",
            "begin_offset", "n_seqs")

    def build(self, i: int):
        """The full operation's plan, built fresh."""
        return lanes.q_curation_pipeline(self.spark, self.dirs[i % self.SAMPLES])

    def prefix(self, i: int, k: int):
        """A freshly built plan of ``stages(i)`` cut after the ``k``-th
        operator call."""
        for j, df in enumerate(self.stages(i)):
            if j == k:
                return df
        raise IndexError(k)

    def op(self, i: int, trace=None) -> None:
        self.collect(i, self.build(i))

    def collect(self, i: int, df) -> None:
        self.results[i] = [tuple(r) for r in df.collect()]

    def check(self) -> "list[str]":
        errs = []
        for label, results in (("pass", self.results),
                               ("split stages of pass", self.split_results)):
            for i, rows in sorted(results.items()):
                errs += [f"{label} {i}: {e}" for e in
                         self.oracle.check(self.samples[i % self.SAMPLES], rows)]
        return errs

    def close(self) -> None:
        self.oracle.close()


# -- CDC ------------------------------------------------------------------------

def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class CdcIngest(Workload):
    """Each operation commits one change batch to a 16-bucket
    copy-on-write PartitionedCdcTable and reads back LOOKUP_KEYS of that
    batch's keys (read-your-writes)."""

    name = "cdc_ingest"
    warmup_ops = 4
    capacity = BATCHES = 24

    def setup(self) -> None:
        self.dir = os.path.join(self.work, "cdc")
        orders = inputs.cdc_orders(self.seed)
        seed_rows = inputs.cdc_seed_rows(orders)
        seed_path = inputs.write_parquet(seed_rows, os.path.join(self.dir, "seed.parquet"))
        stream = inputs.ChangeStream(self.seed, seed_rows, "changes")
        model = oracles.DictModel(seed_rows)
        key_rng = inputs.rng_for(self.seed, "lookups")
        self.batches, self.paths, self.keys, self.expected = [], [], [], []
        for j in range(self.BATCHES):
            b = stream.next_batch()
            model.apply(b)
            keys = inputs.lookup_draw(key_rng, b)
            self.batches.append(b)
            self.paths.append(inputs.write_parquet(
                b, os.path.join(self.dir, "batches", f"b{j}.parquet")))
            self.keys.append(keys)
            self.expected.append(model.lookup(keys))
        self.seed_rows = seed_rows
        self.table_path = os.path.join(self.dir, "table")
        self.table = PartitionedCdcTable(self.table_path, key_cols="o_orderkey",
                                         app_id="bench", num_buckets=16)
        self.table.initialize(self.spark.read.parquet(seed_path))
        self.committed = 0

    def rows(self, i: int) -> int:
        return len(self.batches[i])

    def table_bytes(self) -> int:
        return dir_bytes(self.table_path)

    def op(self, i: int, trace=None) -> None:
        spark = self.spark
        with _span(trace, "driver.plan_build", i):
            batch = spark.read.parquet(self.paths[i])
        with _span(trace, "streaming.merge", i):
            self.table(batch, i)
        self.committed = i + 1
        with _span(trace, "streaming.lookup", i):
            got = [tuple(r) for r in self.table.lookup(spark, self.keys[i])
                   .select(*inputs.CDC_COLS).collect()]
        self.results[i] = got

    def check(self) -> "list[str]":
        errs = []
        for i, got in sorted(self.results.items()):
            errs += [f"op {i}: {e}" for e in oracles.check_lookup(self.expected[i], got)]
        model = oracles.DictModel(self.seed_rows)
        for b in self.batches[:self.committed]:
            model.apply(b)
        row = self.table.current(self.spark).agg(
            F.count(F.lit(1)), F.sum("o_orderkey"),
            F.sum(F.col("o_custkey") * (F.col("o_orderkey") % 7 + 1)),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))).collect()[0]
        errs += oracles.check_checksum(model.checksum(),
                                       tuple(int(v or 0) for v in row))
        return errs


def _span(trace, name: str, op: int):
    return trace.spans.span(name, op) if trace else contextlib.nullcontext()


WORKLOADS = {w.name: w for w in (Curation, CdcIngest)}
