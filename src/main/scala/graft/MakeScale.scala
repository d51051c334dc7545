package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Dev-only scale-up generator: builds `<out>` at `factor`× the row
  * count of a driver testdata dir by replication with key offsets —
  * used for the full-surface sf1 scaling run (BASELINE.md r10).
  *
  * Replication preserves the driver distribution per replica while
  * keeping replicas from colliding:
  *  - fact/dim keys offset by `r * (max+1)` so referential integrity
  *    holds within each replica and keys stay globally unique;
  *  - `documents.text` passes through a per-replica PERMUTATION of the
  *    corpus vocabulary — shingle/equality structure (and thus the
  *    near-dup pair distribution) is preserved EXACTLY within a
  *    replica, while cross-replica Jaccard collapses to noise (plain
  *    copies would make every doc a 10-way near-dup and fake a
  *    quadratic blowup in q41/q73); `n_chars` is recomputed;
  *  - `embeddings.embedding` is cyclically rotated by `r` dimensions —
  *    norms and intra-replica cosines are untouched, cross-replica
  *    cosines decorrelate;
  *  - `region`/`nation` stay as-is (fixed dimensions, like TPC-H).
  *
  * Usage: runMain graft.MakeScale <srcDir> <outDir> <factor>
  */
object MakeScale {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // one plain FILE per table (the driver's testdata layout — DuckDB's
    // read_parquet in the oracle needs files, not Spark part dirs)
    def save(df: DataFrame, t: String): Unit = {
      import java.nio.file.{Files, Paths}
      val tmp = s"$out/.tmp_$t"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.createDirectories(Paths.get(out))
          Files.move(p, Paths.get(s"$out/$t.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          moved = true
        }
      }
      require(moved, s"no parquet part written for $t")
      graft.pinot.PinotCompact.deleteRecursively(Paths.get(tmp))
    }

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1

    /** Union of `factor` replicas of `df`, with `shift(replica)` applied. */
    def replicate(df: DataFrame, shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => shift(df, r)).reduce(_ unionByName _)

    // fixed dims copy through
    save(load("region"), "region")
    save(load("nation"), "nation")

    val customer = load("customer")
    val supplier = load("supplier")
    val part = load("part")
    val orders = load("orders")
    val lineitem = load("lineitem")
    val events = load("events")
    val documents = load("documents")
    val embeddings = load("embeddings")

    val cMax = maxOf(customer, "c_custkey")
    val sMax = maxOf(supplier, "s_suppkey")
    val pMax = maxOf(part, "p_partkey")
    val oMax = maxOf(orders, "o_orderkey")
    val eMax = maxOf(events, "event_id")
    val dMax = maxOf(documents, "doc_id")
    val vMax = maxOf(embeddings, "vec_id")

    save(replicate(customer, (df, r) => df.withColumn("c_custkey",
      (col("c_custkey") + lit(cMax * r)).cast(df.schema("c_custkey").dataType))),
      "customer")
    save(replicate(supplier, (df, r) => df.withColumn("s_suppkey",
      (col("s_suppkey") + lit(sMax * r)).cast(df.schema("s_suppkey").dataType))),
      "supplier")
    save(replicate(part, (df, r) => df.withColumn("p_partkey",
      (col("p_partkey") + lit(pMax * r)).cast(df.schema("p_partkey").dataType))),
      "part")
    save(replicate(orders, (df, r) => df
      .withColumn("o_orderkey",
        (col("o_orderkey") + lit(oMax * r)).cast(df.schema("o_orderkey").dataType))
      .withColumn("o_custkey",
        (col("o_custkey") + lit(cMax * r)).cast(df.schema("o_custkey").dataType))),
      "orders")
    save(replicate(lineitem, (df, r) => df
      .withColumn("l_orderkey",
        (col("l_orderkey") + lit(oMax * r)).cast(df.schema("l_orderkey").dataType))
      .withColumn("l_partkey",
        (col("l_partkey") + lit(pMax * r)).cast(df.schema("l_partkey").dataType))
      .withColumn("l_suppkey",
        (col("l_suppkey") + lit(sMax * r)).cast(df.schema("l_suppkey").dataType))),
      "lineitem")
    // events: event_id AND user_id offset, ts shifted past the replica
    // before it — keeping (user_id, ts) identical across replicas would
    // create cross-replica timestamp TIES that as-of joins and session
    // windows resolve engine-dependently (observed: q53/q62 diverged
    // between Spark and DuckDB on plain-copy replication)
    val uMax = maxOf(events, "user_id")
    // timestampdiff/add (not cast-to-long): ts is TIMESTAMP_NTZ, which
    // Spark 4 refuses to cast to BIGINT — and timestampadd keeps NTZ
    val tsSpanSec = events
      .agg(expr("timestampdiff(SECOND, min(ts), max(ts))"))
      .head().getLong(0) + 3600L
    save(replicate(events, (df, r) => df
      .withColumn("event_id",
        (col("event_id") + lit(eMax * r)).cast(df.schema("event_id").dataType))
      .withColumn("user_id",
        (col("user_id") + lit(uMax * r)).cast(df.schema("user_id").dataType))
      .withColumn("ts", expr(s"timestampadd(SECOND, ${tsSpanSec * r}L, ts)"))),
      "events")

    // documents: per-replica vocabulary permutation (word w at sorted
    // vocab index i maps to vocab[(i + r * 7) % V]; r=0 is identity)
    val vocab = documents.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().orderBy("w")
      .as[String].collect()
    val V = vocab.length
    def permMap(r: Int) = map(vocab.zipWithIndex.flatMap { case (w, i) =>
      Seq(lit(w), lit(vocab((i + r * 7) % V))) }: _*)
    save(replicate(documents, (df, r) =>
      if (r == 0) df
      else {
        val m = permMap(r)
        df.withColumn("doc_id",
            (col("doc_id") + lit(dMax * r)).cast(df.schema("doc_id").dataType))
          .withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              w => coalesce(element_at(m, w), w))))
          .withColumn("n_chars",
            length(col("text")).cast(df.schema("n_chars").dataType))
      }), "documents")

    // embeddings: cyclic dimension rotation by r (r=0 identity)
    val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
    save(replicate(embeddings, (df, r) =>
      if (r == 0) df
      else {
        val rot = r % dims
        df.withColumn("vec_id",
            (col("vec_id") + lit(vMax * r)).cast(df.schema("vec_id").dataType))
          .withColumn("embedding", concat(
            slice(col("embedding"), rot + 1, dims - rot),
            slice(col("embedding"), 1, rot)))
      }), "embeddings")

    println(s"""{"made":"$out","factor":$factor}""")
    spark.stop()
  }
}
