package graft.queries

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index over the `embeddings` table
  * (EXTENSION — no reference counterpart; the pattern is FAISS's
  * IVF-flat, built once and queried many times).
  *
  * BUILD (once per corpus version): seed centroids from the label
  * column, one Lloyd iteration so cluster geometry follows the metric,
  * then write
  *   - `centroids/`  — (cluster, centroid) — tiny, broadcast at query;
  *   - `assignments/` — (vec_id, qvec, dotself) PARTITIONED BY cluster,
  * so the on-disk layout IS the inverted file: a probe of nprobe
  * clusters reads only those clusters' files (Spark partition pruning),
  * never the rest of the corpus. At 100 TB this is the difference
  * between scanning everything per query and reading nprobe/k of it.
  *
  * The index is a [[FixtureCache]] entry of the sf dir: its reuse rule
  * (owner, `_SUCCESS` with the source fingerprint) and atomic build
  * decide when a cached index is used.
  */
object IvfIndex {

  /** Query-side fanout: each query searches its NProbe nearest clusters.
    * Storage-side fanout: each vector is stored in its MultiAssign
    * nearest clusters (FAISS-style multi-assignment / spilling).
    *
    * Operating point honesty: this corpus is ISOTROPIC (within-label
    * cosine ≈ 0.002 — no cluster structure), the adversarial case for
    * any partition-pruning ANN. Measured recall@5 at m=1/nprobe=3: 0.62.
    * The committed point (m=3, nprobe=5) measures 0.98 on every sf
    * fixture — chosen to meet the ≥0.95 recall gate (q48b) on this
    * data; a real clustered corpus runs the SAME machinery at m=1,
    * nprobe ≪ k, reading nprobe/k of the corpus per query.
    * Recall-vs-IO is a per-corpus SLO knob, not a constant of the
    * engine.
    */
  val NProbe = 5
  val MultiAssign = 3

  private val Family = s"ivf_v2_m$MultiAssign"

  /** The dir holding one index entry per sf dir. */
  private[graft] def cacheRoot: Path = FixtureCache.root.resolve(Family)

  /** The index directory for `d`'s corpus, built on first use. */
  def ensure(s: SparkSession, d: String, emb: DataFrame): Path =
    FixtureCache.once(Family, d)(dir => build(emb, dir))

  private def build(emb: DataFrame, dir: Path): Unit = {
    def centroidsOf(assigned: DataFrame, key: String): DataFrame = assigned
      .select(col(key), posexplode(col("qvec")).as(Seq("pos", "v")))
      .groupBy(key, "pos").agg(avg(col("v")).as("c"))
      .groupBy(key).agg(expr(
        "transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))

    def assign(cents: DataFrame, m: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(desc("a_sim"), asc("cluster"))
      emb.crossJoin(broadcast(cents))
        .withColumn("a_sim", graft.functions.DoubleDotProduct.dotd(
          col("qvec").cast("array<double>"), col("centroid")) /
          sqrt(col("dotself").cast("double")))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= m)
        .select(col("vec_id"), col("qvec"), col("dotself"), col("cluster"))
    }

    // seed from labels, one Lloyd iteration (same construction the
    // inline q48 ran per query before the index was persisted). Centroid
    // geometry comes from PRIMARY assignments only; the final inverted
    // file stores each vector in its MultiAssign nearest clusters.
    val seeds = centroidsOf(emb, "label").withColumnRenamed("label", "cluster")
    val assigned = assign(seeds, 1)
    val cent = centroidsOf(assigned, "cluster")
    val clustered = assign(cent, MultiAssign)

    cent.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("centroids").toString)
    clustered.write.mode("overwrite").partitionBy("cluster")
      .parquet(dir.resolve("assignments").toString)
  }

  def centroids(s: SparkSession, dir: Path): DataFrame =
    s.read.parquet(dir.resolve("centroids").toString)

  def assignments(s: SparkSession, dir: Path): DataFrame =
    s.read.parquet(dir.resolve("assignments").toString)
}
