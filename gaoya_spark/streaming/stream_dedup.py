"""Structured-Streaming incremental near-duplicate detection.

The reference's `insert` (W1) is an in-memory mutation; the streaming
analogue is an append-only signatures table maintained by foreachBatch:

  new images -> signature UDF -> (a) edges vs the existing index (join
  against the signatures table), (b) edges within the micro-batch, then
  (c) incremental labels: a new id adopts the smallest component among its
  matched neighbors (or itself) — the streaming approximation of label
  propagation (exact for star-shaped arrivals; a periodic batch
  connected-components pass reconciles chains, same as any incremental CC).

foreachBatch is the right tool (vs. stateful operators) because the "state"
is the warehouse signatures table itself — shared with the batch pipeline,
resumable, and unbounded-size (executor state stores are not designed for
10^12 rows of signatures; a join against a table is).

Checkpointing: Spark's streaming checkpointLocation gives exactly-once
batch ids, and every warehouse write here is keyed by that batch id: the
four stream tables (signatures, bands, edges, labels) are partitioned by
batch_id and written with dynamic partition overwrite, so a foreachBatch
replay (Spark re-runs the same batch_id after a mid-batch failure)
rewrites its own partition instead of double-appending — idempotent by
construction.

The bands table is the maintained LSH index (the reference's per-band
hash maps as a table): each batch appends only its own (sid, bk) rows
and probes the accumulated table via query(index_bands=...), so the
standing index is never re-banded — insert cost is proportional to the
batch, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gaoya_spark.config import MinHashConfig
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.sources.warehouse import Warehouse


class StreamingDedup:
    """Incremental near-duplicate detection over micro-batches.

    Edges inside a batch come from dedup_pairs(keep_sim=False,
    numpy_verify=True), whose adaptive rule (see MinHashLSH.dedup_pairs)
    runs the replicated or the fused numpy kernel. process_batch collects
    the batch's signatures to the driver eagerly, at plan time, and
    broadcasts them; a batch past the broadcast guard falls back to the
    JVM shuffle verify. Edges against the standing index come from
    query() over the maintained bands table."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        cfg: MinHashConfig | None = None,
        id_col: str = "image_id",
        text_col: str = "caption",
        phash_col: str | None = "phash",
        compact_every: int | None = 8,
    ):
        self.spark = spark
        self.wh = warehouse
        self.cfg = cfg or MinHashConfig()
        self.lsh = MinHashLSH(self.cfg)
        self.id_col, self.text_col, self.phash_col = id_col, text_col, phash_col
        # every K batches the four stream tables are compacted to one file
        # per batch_id partition (Warehouse.compact): each micro-batch
        # write lands shuffle-partition-many small files, so an
        # uncompacted index probe after thousands of triggers would pay
        # thousands of file opens (guide §6). None disables.
        self.compact_every = compact_every

    # ---------------------------------------------------------- batch logic
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body — also callable directly for unit tests."""
        new_sigs = self.lsh.signatures(
            batch_df, self.id_col, self.text_col, phash_col=self.phash_col
        ).localCheckpoint(eager=True)

        if self.wh.exists("stream_signatures"):
            # exclude this batch's own partition: on a foreachBatch replay
            # the previous attempt's output is already in the table, and
            # reading it back would make the replay see different state
            # than the original run (self-matches, duplicated edges)
            index = self.wh.read("stream_signatures").where(
                F.col("batch_id") != batch_id
            )
        else:
            index = None
        # the maintained band index (the reference's per-band hash maps as
        # a table, W1/Q1): each batch appends its own (sid, bk) rows below
        # and probes the ACCUMULATED rows here, so the standing index is
        # never re-banded — at 10^12 rows, re-hashing b bands per index
        # row per micro-batch would dwarf the batch's own work
        index_bands = None
        if index is not None and self.wh.exists("stream_bands"):
            # COVERAGE GUARD: only trust the maintained bands index when it
            # covers every batch present in stream_signatures (missing rows
            # lose recall — query()'s own contract). A warehouse written by
            # an older three-table layout, or a partially-deleted bands
            # table, would otherwise silently drop all cross-batch edges
            # against the uncovered batches from the second post-upgrade
            # batch onward. The check is a directory listing (both tables
            # are partitioned by batch_id), not a Spark job.
            sig_batches = self.wh.partition_values("stream_signatures", "batch_id")
            band_batches = self.wh.partition_values("stream_bands", "batch_id")
            sig_batches.discard(str(batch_id))
            band_batches.discard(str(batch_id))
            missing = sig_batches - band_batches
            if missing:
                # self-heal: band the uncovered batches once and write them
                # into their own partitions (idempotent overwrite), instead
                # of silently probing an index that misses them. Cost is
                # proportional to the gap, paid once; afterwards the
                # maintained-index invariant holds again.
                import warnings

                warnings.warn(
                    "StreamingDedup: stream_bands was missing batches "
                    f"{sorted(missing)} of stream_signatures — backfilling "
                    "their (sid, bk) rows before probing the index",
                    RuntimeWarning,
                )
                for b in sorted(missing):
                    part = self.wh.read("stream_signatures").where(
                        F.col("batch_id") == int(b)
                    )
                    self.wh.overwrite_partitions(
                        self.lsh.sid_bands(part.select("id", "sig")).withColumn(
                            "batch_id", F.lit(int(b))
                        ),
                        "stream_bands",
                        ["batch_id"],
                    )
            index_bands = self.wh.read("stream_bands").where(
                F.col("batch_id") != batch_id
            )

        # edges inside the batch, on the broadcast numpy kernels (see the
        # class docstring)
        edges = self.lsh.dedup_pairs(new_sigs, keep_sim=False, numpy_verify=True)
        if index is not None:
            # edges between batch and the standing index (probe = new rows)
            vs_index = (
                self.lsh.query(
                    index, new_sigs, keep_sim=False, index_bands=index_bands
                )
                .where(F.col("qid") != F.col("id"))
                .select(F.col("qid").alias("src"), F.col("id").alias("dst"))
            )
            edges = edges.unionByName(vs_index)
        edges = edges.localCheckpoint(eager=True)

        # incremental labels: new id -> min(existing neighbor component,
        # new neighbor id, own id)
        if self.wh.exists("stream_labels"):
            labels = self.wh.read("stream_labels").where(
                F.col("batch_id") != batch_id
            )
        else:
            labels = self.spark.createDataFrame(
                [], "id string, component string"
            ) if dict(new_sigs.dtypes)["id"] == "string" else self.spark.createDataFrame(
                [], "id long, component long"
            )
        # symmetrize for the neighbor-min step: a batch-internal pair (a, b)
        # must update BOTH endpoints (the canonical edge list stays directed)
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbr = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst", "left")
            .groupBy("src")
            .agg(
                F.min(F.coalesce(F.col("component"), F.col("dst"))).alias("nbr_comp")
            )
            .withColumnRenamed("src", "id")
        )
        new_labels = (
            new_sigs.select("id")
            .join(nbr, "id", "left")
            .select("id", F.least(F.col("id"), F.coalesce("nbr_comp", "id")).alias("component"))
        )

        # batch_id-keyed dynamic partition overwrite: a replayed batch
        # replaces its own partition (idempotent), never double-appends
        bid = F.lit(batch_id)
        self.wh.overwrite_partitions(
            new_sigs.withColumn("batch_id", bid), "stream_signatures", ["batch_id"]
        )
        self.wh.overwrite_partitions(
            self.lsh.sid_bands(new_sigs).withColumn("batch_id", bid),
            "stream_bands",
            ["batch_id"],
        )
        self.wh.overwrite_partitions(
            edges.withColumn("batch_id", bid), "stream_edges", ["batch_id"]
        )
        self.wh.overwrite_partitions(
            new_labels.withColumn("batch_id", bid), "stream_labels", ["batch_id"]
        )

        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            # safe vs replay: compaction preserves the batch_id partition
            # dirs, so a replayed batch still overwrites exactly its own
            # partition; older batches never replay once their streaming
            # checkpoint is committed
            for t in ("stream_signatures", "stream_bands",
                      "stream_edges", "stream_labels"):
                if self.wh.exists(t):
                    self.wh.compact(t, partition_by=["batch_id"])

    # ------------------------------------------------------------- streaming
    def start(self, stream_df: DataFrame, checkpoint_dir: str, trigger_once: bool = True):
        """Attach to a streaming DataFrame (file source, Kafka, rate...)."""
        writer = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def reconcile(self) -> DataFrame:
        """Periodic exact pass: rerun connected components over all streamed
        edges to fix chains the incremental rule can't see; overwrites
        stream_labels."""
        from gaoya_spark.operators.cluster import connected_components

        edges = self.wh.read("stream_edges").select("src", "dst")
        nodes = self.wh.read("stream_signatures").select("id")
        labels = connected_components(edges, nodes=nodes)
        self.wh.write(labels, "stream_labels_reconciled")
        return self.wh.read("stream_labels_reconciled")
