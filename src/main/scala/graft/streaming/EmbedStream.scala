package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface over the `embeddings` table:
  * distribution-drift monitoring at ingest — the embedding-pipeline
  * health check that catches a model swap, a preprocessing bug, or a
  * source-mix shift BEFORE bad vectors pollute an ANN index.
  */
object EmbedStream {

  /** Embedding-drift monitor: each arriving delivery's centroid is
    * compared (cosine) against the FROZEN reference centroid of the
    * corpus the index was built on — a delivery whose drift_cos sags
    * is distributionally off and gets quarantined, the streaming
    * analog of the batch [[graft.operators.Similarity.embedDiagnostics]]
    * audit. Two deliveries here (even ids, then odd ids — disjoint
    * halves with pinned file mtimes), each scored inside foreachBatch:
    * one posexplode partial agg to the batch's d component sums, one
    * broadcast join against the d reference sums — per-delivery state
    * is d scalars, the stream itself holds NO state store (the
    * reference is the model artifact, as in [[DocStream.nbClassifyViaStream]]).
    *
    * Engine-exact: component sums on the 2¹³ grid are exact longs;
    * cosine is scale-invariant, so both sides use raw SUM vectors and
    * the single double division is IEEE-identical — the DuckDB oracle
    * replays both deliveries' drift from the same parquet.
    *
    * The delivery key is derived from the DATA (vec_id parity), not
    * the micro-batch id, so the output is invariant to trigger
    * batching. */
  def embedDriftViaStream(spark: SparkSession, sf: String): DataFrame = {
    import graft.operators.Similarity.ProtoQ
    val root = graft.TempDirs.create("graft-embedstream")
    val outDir = s"$root/out"

    val vecs = Tables.load(spark, sf, "embeddings")
    def sums(df: DataFrame): DataFrame = df
      .select(col("vec_id"),
        posexplode(graft.functions.ArrayOps.quantize_q(col("embedding"), ProtoQ))
          .as(Seq("pos", "q")))
      .groupBy(col("pos")).agg(sum(col("q")).as("s"))
    val ref = sums(vecs).withColumnRenamed("s", "rs")
    ref.persist()
    val refNorm = ref.agg(
      sqrt(sum(col("rs") * col("rs")).cast("double")).as("rnorm"))
    def drift(batch: DataFrame): DataFrame = {
      val meta = batch.agg(
        pmod(min(col("vec_id")), lit(2L)).as("delivery"),
        count(lit(1)).as("n_vecs"))
      sums(batch).withColumnRenamed("s", "bs")
        .join(broadcast(ref), "pos")
        .agg(sum(col("bs") * col("rs")).as("d"),
          sum(col("bs") * col("bs")).as("bn"))
        .crossJoin(broadcast(refNorm))
        .crossJoin(broadcast(meta))
        .select(col("delivery"), col("n_vecs"),
          (col("d").cast("double") /
            (sqrt(col("bn").cast("double")) * col("rnorm")))
            .as("drift_cos"))
    }

    DeliveryHarness.replay(spark, root,
      Seq(vecs.filter(expr("vec_id % 2 = 0")),
        vecs.filter(expr("vec_id % 2 = 1")))) { (batch, batchId) =>
      StreamState.append(outDir, drift(batch), batchId)
    }
    ref.unpersist()

    StreamState.read(spark, outDir, drift(vecs).schema)
      .orderBy(col("delivery"))
  }
}
