"""Streaming near-duplicate detection: first-arrival keyed state over a
document stream (north-star LLM-ingest operator; the streaming twin of
the batch candidate stages in ``datapipeline.textdedup``).

A batch near-dedup pass over a 100 TB corpus is a full re-shuffle of every
document's collision keys. An INGEST pipeline can't afford that per
increment: new documents must be checked against everything already
accepted, in one pass, touching only state proportional to the accepted
corpus's keys. That is ``KeyStateNearDupSink``, the reference's keyed
first-arrival rule (rt/app/dwd/UniqueVisitApp.java:60-78) over collision
keys:

- per micro-batch, a key derivation maps each new doc to its collision
  keys — one of three families, each with expressions identical to its
  batch operator so batch and stream agree bit-for-bit:
  ``minhash_band_keys`` (MinHash-LSH bands), ``simhash_band_keys``
  (SimHash bands) and ``embedding_bucket_keys`` (hyperplane sign
  buckets);
- a document is flagged ``is_near_dup=1`` iff any of its keys was
  ALREADY in the pre-batch state (it arrived in an earlier batch — true
  first-arrival-wins: a late-arriving duplicate marks ITSELF, even when
  its doc_id is smaller than the already-emitted holder's), or a smaller
  doc_id claims the key WITHIN the same batch;
- the key state (one row per distinct key: the minimum doc_id that ever
  claimed it) absorbs the batch's keys afterwards.

Under an id-ordered replay the two rules reduce to the directional batch
relation "doc d is a near-dup candidate iff some d' < d shares a key" —
which is what the DuckDB oracle checks (any split, pinned in tests
including a late-small-id case, mirroring ``SpanStateDedupSink``). Under
out-of-order arrival the semantics are first-arrival-wins: whichever
occurrence of a duplicate group is emitted first goes unflagged, every
later one is flagged, so no duplicate pair is ever silently lost.

State size: O(distinct keys) ~ O(accepted docs × keys per doc) rows of
(string, long) in a ``PartitionedSnapshotStore`` (streaming/partstore.py):
every commit APPENDS the batch's min-per-key delta into hash partitions
instead of rewriting the table, reads are min-merged on the fly and
PRUNED to the partitions the batch's keys hash into, and per-partition
size-tiered folds bound run counts at O(log B) amortized rewrites per
row — per-batch write volume is O(|batch|), never O(|state|). The
per-batch compute is one groupBy over the batch's keys + one equi-join
against the pruned state — never a corpus scan.

Candidate flags are key-level (no Jaccard verify stage): the streaming
contract is "cheap online filter, exact offline verify" — chain
``textdedup.jaccard_verify`` over the flagged pairs offline when the
collision false-positive rate matters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.datapipeline.hashing import spark_tokens
from flinkrealtimedatawarehouse_spark.datapipeline.textdedup import (
    lsh_band_rows,
    merge_islands,
    minhash_signatures,
    span_window_hashes,
)
from flinkrealtimedatawarehouse_spark.streaming.partstore import (
    PartitionedSnapshotStore,
    min_merge,
    min_struct_merge,
)


class SpanStateDedupSink(PartitionedSnapshotStore):
    """Streaming substring-level dedup (the streaming twin of
    ``textdedup.repeated_spans``): maintains window-hash -> canonical
    (min doc_id, pos) state and appends per-doc span-coverage flags for
    every micro-batch.

    Per batch: each new doc's length-``window_n`` token windows are
    hashed with the SAME 62-bit expressions as the batch operator. A
    window occurrence is marked iff its hash was ALREADY in the pre-batch
    state (it arrived in an earlier batch — true first-arrival-wins, so a
    late smaller-id duplicate is marked rather than stealing canonicity
    from an already-emitted doc), or a lexicographically smaller (id,
    pos) occurrence exists WITHIN the batch. Under id-ordered replay the
    two rules together reduce to the batch operator's global first-by-
    (id, pos) rule, so flags equal ``repeated_spans``' dup columns for
    ANY micro-batch split (pinned in tests, including a late-small-id
    case). Marked windows merge into interval islands (shared
    ``merge_islands``) for the per-doc ``dup_windows``/``dup_coverage``/
    ``dup_frac`` outputs; ``n_tokens``/``n_windows`` match the batch
    schema.

    State: one (wh, min_id, min_pos) row per distinct accepted window
    hash — bounded by distinct content, not stream volume (measured flat
    under 4× amplification, SCALE.md). Per-batch compute is the batch's
    windows + one equi-join against state pruned to the batch's hash
    partitions; the commit appends only the batch's min-(id, pos) delta
    (PartitionedSnapshotStore — the state table is never rewritten per
    batch), and the corpus TEXT is never rescanned either way.
    """

    def __init__(self, base_dir: str, id_col: str, text_col: str,
                 window_n: int = 20, lineage: str | None = None,
                 n_partitions: int = 8):
        super().__init__(os.path.join(base_dir, "state"),
                         key_cols=["wh"],
                         merge_fn=min_struct_merge(["wh"],
                                                   ["min_id", "min_pos"]),
                         n_partitions=n_partitions, lineage=lineage)
        self.flags_dir = os.path.join(base_dir, "flags")
        self.id_col = id_col
        self.text_col = text_col
        self.window_n = window_n

    def init(self, spark: SparkSession) -> None:
        self.snapshot_init(spark.createDataFrame(
            [], "wh long, min_id long, min_pos long"
        ))

    def state(self, spark: SparkSession) -> DataFrame:
        return self.current(spark)

    def flags(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.flags_dir).drop("_bid")

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.seen(batch_id):  # at-least-once redelivery: no-op
            return
        spark = batch.sparkSession
        toks_df = batch.select(
            F.col(self.id_col), spark_tokens(F.col(self.text_col)).alias("toks")
        )
        base = toks_df.select(
            F.col(self.id_col),
            F.size("toks").alias("n_tokens"),
            F.greatest(F.size("toks") - self.window_n + 1, F.lit(0)).alias("n_windows"),
        )
        wh = span_window_hashes(toks_df, self.id_col, self.window_n)

        # marking — first-arrival-wins: an occurrence is a dup iff its
        # hash arrived in an EARLIER batch (pre-state membership — a late
        # smaller id gets marked, it does not steal canonicity from an
        # already-emitted doc), or a smaller (id, pos) occurrence exists
        # within this batch. The membership probe reads only the
        # partitions the batch's hashes land in (bounded pid collect).
        batch_canon = wh.groupBy("wh").agg(
            F.min(
                F.struct(
                    F.col(self.id_col).alias("min_id"),
                    F.col("pos").cast("long").alias("min_pos"),
                )
            ).alias("_bc")
        )
        # persisted: the pid collect, the marking join and the delta
        # commit are three actions over the (distinct-hash-sized) canon
        batch_canon.persist()
        try:
            self._mark_and_commit(spark, base, wh, batch_canon, batch_id)
        finally:
            batch_canon.unpersist()

    def _mark_and_commit(self, spark, base, wh, batch_canon,
                         batch_id: int) -> None:
        touched = self.pids_of(batch_canon)
        seen_before = self.read_parts(spark, touched).select(
            "wh"
        ).withColumn("_prior", F.lit(True))
        marked = (
            wh.join(batch_canon, "wh")
            .join(seen_before, "wh", "left")
            .filter(
                F.col("_prior").isNotNull()
                | (F.col("_bc.min_id") < F.col(self.id_col))
                | (
                    (F.col("_bc.min_id") == F.col(self.id_col))
                    & (F.col("_bc.min_pos") < F.col("pos"))
                )
            )
            .select(self.id_col, "pos", (F.col("pos") + self.window_n).alias("end"))
        )
        per_doc = (
            merge_islands(marked, self.id_col)
            .withColumn("_cov", F.col("_e") - F.col("_s"))
            .groupBy(self.id_col)
            .agg(F.sum("_wct").alias("dup_windows"), F.sum("_cov").alias("dup_coverage"))
        )
        out = (
            base.join(per_doc, self.id_col, "left")
            .select(
                self.id_col,
                "n_tokens",
                F.col("n_windows").cast("long").alias("n_windows"),
                F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
                F.coalesce("dup_coverage", F.lit(0)).cast("long").alias("dup_coverage"),
                F.when(
                    F.col("n_tokens") > 0,
                    F.round(
                        F.coalesce("dup_coverage", F.lit(0)) / F.col("n_tokens"), 6
                    ),
                ).otherwise(F.lit(0.0)).alias("dup_frac"),
                F.lit(batch_id).alias("_bid"),
            )
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bid")
            .parquet(self.flags_dir)
        )
        # state delta = the batch's canonical (id, pos) per window hash —
        # O(|batch|) rows; the store min-struct-folds it on read, so the
        # accumulated state is never rewritten per commit
        self.commit_batch(
            batch_canon.select("wh", F.col("_bc.min_id"), F.col("_bc.min_pos")),
            batch_id,
        )


class KeyStateNearDupSink(PartitionedSnapshotStore):
    """foreachBatch sink: maintains the key -> min-doc-id state and
    appends per-doc ``is_near_dup`` flags for every micro-batch (the
    first-arrival rule of the module docstring).

    ``key_rows_fn(batch) -> DataFrame[(id_col, key string)]`` maps a
    micro-batch to one row per (doc, collision key): MinHash band keys
    (``minhash_band_keys``), SimHash band keys (``simhash_band_keys``),
    embedding sign buckets (``embedding_bucket_keys``), or any future
    family. Under id-ordered replay flags equal the batch directional
    relation "∃ d' < d sharing a key" for any split — the property the
    dp22 gate's neardup/shflags/edflags DuckDB twins encode.

    Durability/replay from PartitionedSnapshotStore (state runs live
    under ``base_dir/state``): each commit appends the batch's
    min-per-key delta. The state fold (min per key) is idempotent and
    flags use per-``_bid`` dynamic overwrite, so a redelivered batch
    would be harmless anyway — the batch-id guard just skips the wasted
    work.
    """

    def __init__(self, base_dir: str, id_col: str, key_rows_fn,
                 lineage: str | None = None, n_partitions: int = 8,
                 cluster_sink=None):
        super().__init__(os.path.join(base_dir, "state"),
                         key_cols=["key"],
                         merge_fn=min_merge(["key"], ["min_id"]),
                         n_partitions=n_partitions, lineage=lineage)
        self.flags_dir = os.path.join(base_dir, "flags")
        self.id_col = id_col
        self.key_rows_fn = key_rows_fn
        # optional downstream ClusterUpkeepSink (streaming/clusters.py):
        # when attached, every micro-batch ALSO emits its pair edges —
        # (doc, witness) where witness = the key's pre-batch state
        # minimum (the earlier holder) or the within-batch minimum for
        # first-seen keys — and folds them into the incremental
        # connected-components label table. Connectivity through key
        # minima equals key-sharing connectivity (every claimant of a
        # key chains through the key's evolving minimum), so the label
        # table converges to CC over the full candidate graph: the
        # complete one-pass streaming dedup DAG, docs -> flags -> pair
        # edges -> canonical cluster ids, one micro-batch at a time.
        self.cluster_sink = cluster_sink

    def init(self, spark: SparkSession) -> None:
        self.snapshot_init(
            spark.createDataFrame([], "key string, min_id long")
        )

    def state(self, spark: SparkSession) -> DataFrame:
        return self.current(spark)

    def flags(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.flags_dir).drop("_bid")

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        cs = self.cluster_sink
        if self.seen(batch_id) and (cs is None or cs.seen(batch_id)):
            return  # at-least-once redelivery, every sink committed: no-op
        spark = batch.sparkSession
        kr = self.key_rows_fn(batch).select(self.id_col, "key")
        # multiple actions read the key rows (flag join, and — composed —
        # the edge join and the cluster fold's own joins), and the
        # CPU-dense key derivation (MinHash/SimHash signatures) would
        # otherwise re-run per action (measured at sf1 on the composed
        # MinHash DAG: per-batch wall 8.5-10.8 s without the persist,
        # 5-6 s with)
        kr.persist()
        # one min-per-key aggregate serves the witness derivation, the
        # flag rule AND the state delta; its keys also give the partition
        # set every state read below is pruned to (bounded collect: at
        # most n_partitions ints — partstore.pids_of's contract)
        batch_min = kr.groupBy("key").agg(F.min(self.id_col).alias("_bmin"))
        batch_min.persist()
        try:
            self._apply_batch(spark, batch, kr, batch_min, batch_id)
        finally:
            batch_min.unpersist()
            kr.unpersist()

    def _apply_batch(self, spark, batch, kr, batch_min, batch_id: int) -> None:
        cs = self.cluster_sink
        touched = self.pids_of(batch_min)
        if cs is not None and not cs.seen(batch_id):
            # Pair edges for the downstream cluster sink, derived from the
            # PRE-BATCH state VERSION — not the live state — so a crash
            # between the two sinks' commits replays with byte-identical
            # edges (snapshot_init writes v0 empty and each applied batch
            # commits one version, so version b IS the state before batch
            # b, still addressable even after this sink committed b).
            # Pruned to the batch's partitions: a witness for a batch key
            # can only live where that key hashes.
            prior = self.read_parts(spark, touched, version=batch_id).select(
                "key", F.col("min_id").alias("_w")
            )
            witness = batch_min.join(prior, "key", "left").select(
                "key", F.coalesce("_w", "_bmin").alias("_w")
            )
            edges = (
                kr.join(witness, "key")
                .filter(F.col(self.id_col) != F.col("_w"))
                .select(
                    F.least(F.col(self.id_col), F.col("_w")).alias("id_a"),
                    F.greatest(F.col(self.id_col), F.col("_w")).alias("id_b"),
                )
                .distinct()
                # the cluster fold runs several actions over its input
                # (CC rounds, remap joins, snapshot write); checkpoint the
                # small edge set so none of them re-derives it
                .localCheckpoint(eager=True)
            )
            cs.write_batch(edges, batch_id)
        if self.seen(batch_id):
            return  # flags/state already committed; only clusters lagged

        # the membership probe reads only the batch's own partitions
        seen_before = self.read_parts(spark, touched).select(
            "key"
        ).withColumn("_prior", F.lit(True))
        flagged = (
            kr.join(batch_min, "key")
            .join(seen_before, "key", "left")
            .groupBy(self.id_col)
            .agg(
                F.max(
                    (
                        F.col("_prior").isNotNull()
                        | (F.col("_bmin") < F.col(self.id_col))
                    ).cast("int")
                ).alias("is_near_dup")
            )
        )
        # docs that derive no keys (e.g. too few tokens to shingle) are
        # never dups
        out = (
            batch.select(self.id_col)
            .join(flagged, self.id_col, "left")
            .select(
                self.id_col,
                F.coalesce("is_near_dup", F.lit(0)).alias("is_near_dup"),
                F.lit(batch_id).alias("_bid"),
            )
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bid")
            .parquet(self.flags_dir)
        )
        # state delta = the batch's min id per key, O(|batch|) rows; the
        # store's merge-on-read min-folds it against history — the full
        # state table is never rewritten
        self.commit_batch(
            batch_min.select("key", F.col("_bmin").alias("min_id")), batch_id
        )


def minhash_band_keys(id_col: str, text_col: str, shingle_n: int = 3,
                      k: int = 16, bands: int = 8):
    """Key derivation for the MinHash-LSH family: one row per (doc, band),
    key = 'band_idx_band_key' — identical signature and band algebra to
    the batch ``textdedup.minhash_near_dups`` candidate stage. The key is
    injective: ``band_idx`` is digits only, so the first '_' ends it."""

    def f(batch: DataFrame) -> DataFrame:
        sigs = minhash_signatures(batch, id_col, text_col, shingle_n, k)
        return lsh_band_rows(sigs, id_col, bands, k // bands).select(
            id_col, F.concat_ws("_", "band_idx", "band_key").alias("key")
        )

    return f


def simhash_band_keys(id_col: str, text_col: str):
    """Key derivation for the SimHash family: one row per (doc, band),
    key = 'band_idx_band_val' — identical band algebra to the batch
    ``textdedup.simhash_near_dups`` candidate stage."""
    from flinkrealtimedatawarehouse_spark.datapipeline.textdedup import (
        _simhash_band_rows,
        simhash,
    )

    def f(batch: DataFrame) -> DataFrame:
        return _simhash_band_rows(simhash(batch, id_col, text_col), id_col).select(
            id_col, F.concat_ws("_", "band_idx", "band_val").alias("key")
        )

    return f


def embedding_bucket_keys(id_col: str, vec_col: str, n_planes: int = 8,
                          quant: int = 1000):
    """Key derivation for the embedding-cosine family: one row per doc,
    key = its hyperplane sign bucket — identical bucket algebra to the
    batch ``textdedup.embedding_near_dups`` candidate stage."""
    from flinkrealtimedatawarehouse_spark.datapipeline.similarity import (
        hyperplane_bucket,
        quantized,
    )

    def f(batch: DataFrame) -> DataFrame:
        return batch.select(
            id_col,
            hyperplane_bucket(
                quantized(F.col(vec_col), quant), n_planes
            ).cast("string").alias("key"),
        )

    return f
