"""Incremental triangle counting over edge micro-batches.

Reference (dev tree): streaming triangle count over streamed edge
partitions — arachne_development/server/TriCntMsgD.chpl:3213-3216
(``segmentedStreamTri``); SURVEY.md §2.5 maps it to Structured Streaming's
``foreachBatch``.

Design: maintain an accumulated edge set E (canonical u<v, parquet-backed
state). For each incoming batch B (deduped against E):
    Δtriangles = tri(B, E, E) + tri(B, B, E) + tri(B, B, B)
counted as: wedges with at least one batch edge, closed by any edge in
E ∪ B — computed as (all wedges over E∪B closing) minus (wedges over E
closing) = count(E∪B) − count(E), but incrementally cheaper: only wedges
touching a batch edge are enumerated. State and the running count are
exactly-once via the foreachBatch epoch id."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.local import local_frame


def _canon(df: DataFrame) -> DataFrame:
    return (
        df.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )


def _delta_triangles(batch: DataFrame, state: DataFrame) -> int:
    """Triangles added by `batch` edges against `state` (state excludes batch).

    A new triangle contains >=1 batch edge. Enumerate wedges where at least
    one leg is a batch edge over U = state ∪ batch, close against U, and
    de-overlap by inclusion-exclusion on which legs are new: count each new
    triangle once by requiring the *lexicographically first new leg* — here
    simpler: enumerate all triangles in U touching >=1 batch edge via a
    tagged union and count distinct triangle keys."""
    union = state.select("u", "v", F.lit(0).alias("is_new")).unionAll(
        batch.select("u", "v", F.lit(1).alias("is_new"))
    )
    sym = union.select(F.col("u").alias("a"), F.col("v").alias("b"), "is_new").unionAll(
        union.select(F.col("v").alias("a"), F.col("u").alias("b"), "is_new")
    )
    # wedges pivoting at p: (p,b), (p,c) with b < c; close with (b,c) in
    # union; keep triangles touching >=1 new edge; dedup by sorted triple
    w1 = sym.select(F.col("a").alias("p"), F.col("b"), F.col("is_new").alias("n1"))
    w2 = sym.select(F.col("a").alias("p"), F.col("b").alias("c"), F.col("is_new").alias("n2"))
    tri = (
        w1.join(w2, "p")
        .filter(F.col("b") < F.col("c"))
        .join(
            union.select(
                F.col("u").alias("b"), F.col("v").alias("c"), F.col("is_new").alias("n3")
            ),
            ["b", "c"],
        )
        .filter((F.col("n1") + F.col("n2") + F.col("n3")) > 0)
        .select(F.array_sort(F.array("p", "b", "c")).alias("t"))
        .distinct()
    )
    # each triangle appears once per pivot choice; distinct() dedups
    return tri.count()


class StreamingTriangleCounter:
    """foreachBatch sink maintaining an edge-set state dir + running count.

    Exactly-once discipline: each batch writes its new edge set to a fresh
    sequence-numbered directory, then atomically promotes it by
    ``os.replace``-ing a single ``manifest.json`` that holds BOTH the state
    pointer and the running count (so they can never diverge after a
    crash). Replayed epochs (foreachBatch redelivery after failure) are
    skipped idempotently via the last-applied ``epoch`` in the manifest."""

    def __init__(self, spark: SparkSession, state_dir: str, checkpoint_id: str | None = None):
        self.spark = spark
        self.state_dir = state_dir
        # scope the epoch-replay guard to a checkpoint identity: epoch ids
        # restart at 0 under a fresh checkpoint location, which must reset
        # the guard rather than discard every new batch as a replay
        self.checkpoint_id = checkpoint_id
        self.manifest_path = os.path.join(state_dir, "manifest.json")
        os.makedirs(state_dir, exist_ok=True)

    def _manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        # legacy layout (pre-manifest): count.json + edges/ — migrate
        # rather than silently resetting accumulated state to zero
        legacy_count = os.path.join(self.state_dir, "count.json")
        legacy_edges = os.path.join(self.state_dir, "edges")
        if os.path.exists(legacy_count):
            with open(legacy_count) as f:
                old = json.load(f)
            has_edges = os.path.exists(os.path.join(legacy_edges, "_SUCCESS"))
            if old.get("triangles", 0) > 0 and not has_edges:
                # torn legacy state: the count survived but the edge set
                # was lost mid-overwrite — every future delta would be
                # wrong in both directions; refuse rather than continue
                raise RuntimeError(
                    f"torn legacy triangle state in {self.state_dir}: "
                    f"count.json present but edges/ has no _SUCCESS; "
                    f"reprocess the stream from scratch"
                )
            return {
                "triangles": old.get("triangles", 0),
                "epoch": old.get("epoch"),
                "edges_dir": "edges" if has_edges else None,
                "seq": 0,
            }
        return {"triangles": 0, "epoch": None, "edges_dir": None, "seq": 0}

    def _promote(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    @property
    def total(self) -> int:
        return self._manifest()["triangles"]

    def _state(self) -> DataFrame:
        m = self._manifest()
        if m["edges_dir"]:
            return self.spark.read.parquet(
                os.path.join(self.state_dir, m["edges_dir"])
            )
        return local_frame(self.spark, [], "u long, v long")

    def process_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> int:
        m = self._manifest()
        same_ckpt = (
            self.checkpoint_id is None
            or m.get("checkpoint_id") is None
            or m.get("checkpoint_id") == self.checkpoint_id
        )
        if (
            same_ckpt
            and epoch_id is not None
            and m["epoch"] is not None
            and epoch_id <= m["epoch"]
        ):
            # replayed epoch after a failure: already applied, skip
            return m["triangles"]
        if not same_ckpt:
            m = {**m, "epoch": None}
        batch = _canon(batch_df).localCheckpoint(eager=True)
        state = self._state().localCheckpoint(eager=True)
        fresh = batch.join(state, ["u", "v"], "left_anti").localCheckpoint(eager=True)
        if fresh.isEmpty():
            if epoch_id is not None:
                self._promote({**m, "epoch": epoch_id})
            return m["triangles"]
        delta = _delta_triangles(fresh, state)
        seq = m.get("seq", 0) + 1
        new_dir = f"edges_{seq:08d}"
        state.unionAll(fresh).write.mode("overwrite").parquet(
            os.path.join(self.state_dir, new_dir)
        )
        total = m["triangles"] + delta
        self._promote(
            {
                "triangles": total,
                "epoch": epoch_id,
                "edges_dir": new_dir,
                "seq": seq,
                "checkpoint_id": self.checkpoint_id or m.get("checkpoint_id"),
            }
        )
        # best-effort cleanup of the superseded state dir
        if m["edges_dir"]:
            import shutil

            shutil.rmtree(
                os.path.join(self.state_dir, m["edges_dir"]), ignore_errors=True
            )
        return total


def streaming_triangle_count(
    edge_stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Attach the incremental counter to a streaming (src,dst) DataFrame.
    Returns the StreamingQuery; read progress via
    ``StreamingTriangleCounter(spark, state_dir).total``."""
    counter = StreamingTriangleCounter(
        edge_stream.sparkSession, state_dir, checkpoint_id=os.path.abspath(checkpoint_dir)
    )
    return (
        edge_stream.writeStream.foreachBatch(
            lambda df, epoch: counter.process_batch(df, epoch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
