package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Generator of the llm_dedup corpus: random texts plus planted
  * near-duplicate clusters. About a quarter of the documents copy an
  * earlier document (itself perhaps a copy) with 1 to 8 tokens replaced,
  * so word-3-gram Jaccard similarities within a cluster spread from near
  * 0.98 down to far below the 0.8 threshold along chains of copies. */
object DedupGen {
  val Vocab = 20000
  val Langs = Array("en", "de", "fr", "es")
  val MaxEdits = 8

  private def word(s: Long, k: Int): String = {
    val len = 3 + Rng.below(s, 41, k, 8)
    val b = new StringBuilder
    (0 until len).foreach(j => b += ('a' + Rng.below(s, 42, k * 16L + j, 26)).toChar)
    b.toString
  }

  /** A token's vocabulary rank; low ranks are frequent. */
  private def rank(s: Long, i: Long, t: Int): Int = {
    val u = Rng.unit(s, 43, i * 256 + t)
    (Vocab * u * u).toInt
  }

  /** The texts by doc id, and each doc's cluster: the doc id of the
    * original its chain of copies starts from. */
  def corpus(s: Long, n: Int): (Array[String], Array[Int]) = {
    val vocab = Array.tabulate(Vocab)(word(s + 7, _))
    val docs = new Array[Array[String]](n)
    val root = new Array[Int](n)
    (0 until n).foreach { i =>
      root(i) = i
      docs(i) =
        if (i > 0 && Rng.below(s, 51, i, 4) == 0) {
          val parent = Rng.below(s, 52, i, i)
          root(i) = root(parent)
          val copy = docs(parent).clone()
          (0 until 1 + Rng.below(s, 53, i, MaxEdits)).foreach { e =>
            copy(Rng.below(s, 54, i * 16L + e, copy.length)) = vocab(Rng.below(s, 55, i * 16L + e, Vocab))
          }
          copy
        } else Array.tabulate(100 + Rng.below(s, 56, i, 41))(t => vocab(rank(s + 7, i, t)))
    }
    // a seeded permutation of doc ids spreads each cluster over the
    // corpus / incoming split (doc_id % 10) of the streaming queries
    val order = (0 until n).sortBy(i => Rng.h(s, 57, i)).toArray
    val docId = new Array[Int](n)
    order.indices.foreach(d => docId(order(d)) = d)
    (order.map(i => docs(i).mkString(" ")), order.map(i => docId(root(i))))
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, false), StructField("text", StringType, false),
    StructField("lang", StringType, false), StructField("source", StringType, false),
    StructField("n_chars", LongType, false)))
}

/** Exact near-duplicate answers in plain Scala, with the rules of q41:
  * distinct word 3-gram shingles, shingles in more than max(50, N/10)
  * documents dropped, pairs at Jaccard >= 0.8 by exact integer test. */
final class DedupTruth(texts: Array[String], cluster: Array[Int]) {
  val n: Int = texts.length
  val shingles: Array[Set[String]] = texts.map { t =>
    val w = t.split(" ")
    (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  /** (a, b) with a < b -> (shared, |A|, |B|) over the given shingle sets,
    * for every pair sharing at least one shingle. */
  private def overlaps(sets: Array[Set[String]]): Map[(Long, Long), (Int, Int, Int)] = {
    val post = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    sets.zipWithIndex.foreach { case (ss, d) => ss.foreach(x => post.getOrElseUpdate(x, mutable.ArrayBuffer()) += d) }
    val inter = mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    post.valuesIterator.foreach { ds =>
      for (i <- ds.indices; j <- i + 1 until ds.length) inter((ds(i).toLong, ds(j).toLong)) += 1
    }
    inter.iterator.map { case (k @ (a, b), c) => k -> (c, sets(a.toInt).size, sets(b.toInt).size) }.toMap
  }

  private val tau = math.max(50, n / 10)
  private val filtered: Array[Set[String]] = {
    val df = shingles.iterator.flatten.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    shingles.map(_.filter(df(_) <= tau))
  }

  /** q41: the exact pair set with its Jaccard values. */
  val pairs: Map[(Long, Long), Double] = overlaps(filtered).collect {
    case (k, (i, a, b)) if i * 10L >= (a + b - i) * 8L => k -> i.toDouble / (a + b - i)
  }

  /** Both docs descend from the same original: a planted near-duplicate. */
  def related(a: Long, b: Long): Boolean = a != b && cluster(a.toInt) == cluster(b.toInt)

  /** Docs with at least one planted near-duplicate. */
  val clustered: Set[Long] =
    cluster.indices.groupBy(cluster(_)).values.filter(_.size > 1).flatten.map(_.toLong).toSet

  /** q73: connected components of the q41 pairs, labelled by min id. */
  val components: Answers.Rows = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    pairs.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.sorted.map(d => Seq(d, find(d), d == find(d)))
  }

  def isIncoming(d: Long): Boolean = d % 10 >= 8
}

/** llm_dedup: the near-duplicate query family through the repo's public
  * query entry point, on a per-run directory holding a seeded
  * documents.parquet. Reads no Pinot table. */
final class Dedup(ctx: Ctx) extends Workload {
  import Dedup._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val nDocs = if (ctx.smoke) 300 else 800

  private var texts: Array[String] = _
  private var truth: DedupTruth = _
  private var dir: Path = _
  private var userB, stored = 0L
  /** Lowest recall seen per pipeline, over all runs of it. */
  private val recall = mutable.Map.empty[String, Double]
  override def checkNotes: Map[String, Any] =
    Map("recall_min" -> recall.toMap, "recall_floor" -> RecallFloor,
      "exact_pairs" -> truth.pairs.size)

  /** One write of the corpus is under a megabyte, mostly Spark's per-job
    * cost, and swings widely from write to write; each set-up writes it
    * several times, so the median load rate is steady. The last copy is
    * the run's input. */
  private val LoadCopies = 4

  def prepare(): Unit = {
    val (t, cluster) = DedupGen.corpus(seed, nDocs)
    texts = t
    truth = new DedupTruth(texts, cluster)
    val rows = docRows(texts.toIndexedSeq)
    userB = rows.map(r => 8L * 2 + Util.utf8Len(r.getString(1)) + Util.utf8Len(r.getString(2)) +
      Util.utf8Len(r.getString(3))).sum
    (1 to LoadCopies).foreach { _ =>
      dir = ctx.freshDir("dedup")
      ctx.load("load_documents", userB)(writeDocs(rows, dir))
    }
    stored = Util.diskBytes(dir.resolve("documents.parquet"))
  }

  private def docRows(texts: Seq[String]): Seq[Row] = texts.indices.map { i =>
    val t = texts(i)
    Row(i.toLong, t, DedupGen.Langs(i % DedupGen.Langs.length), s"src${i % 7}", t.length.toLong)
  }

  private def writeDocs(rows: Seq[Row], dir: Path): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DedupGen.schema)
      .write.parquet(dir.resolve("documents.parquet").toString)

  /** Two passes: one pass is a handful of samples, and later passes still
    * speed up as the JIT settles. */
  override def minQueries: Int = 2 * Pipelines.length

  /** One pass; it also builds the stream pipelines' standing bucket table. */
  def warmUp(): Unit = unit()

  private def pairSet(rows: Answers.Rows): Map[(Long, Long), Any] =
    rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]) -> r(2)).toMap

  private def recallOf(q: String, found: Int, of: Int): Option[String] = {
    val r = if (of == 0) 1.0 else found.toDouble / of
    recall(q) = math.min(recall.getOrElse(q, 1.0), r)
    if (r < RecallFloor(q)) Some(f"$q recall $r%.3f below floor ${RecallFloor(q)}") else None
  }

  private def checkPairs(q: String, exact: Boolean)(got: Answers.Rows): Option[String] = {
    val g = pairSet(got)
    val bad = g.keys.filterNot(k => if (exact) truth.pairs.contains(k)
      else truth.related(k._1, k._2))
    val wrongJ = if (!exact) Nil else g.collect {
      case (k, j: Double) if truth.pairs.get(k).exists(t => math.abs(t - j) > 0.5e-4 + 1e-12) => k
    }
    if (g.size != got.length) Some(s"$q returned duplicate pairs")
    else if (bad.nonEmpty) Some(s"$q pairs that are not near-duplicates: ${bad.take(3)}")
    else if (wrongJ.nonEmpty) Some(s"$q wrong Jaccard for ${wrongJ.take(3)}")
    else recallOf(q, truth.pairs.keys.count(g.contains), truth.pairs.size)
  }

  /** Flags of the incoming documents: every flagged document has a
    * planted near-duplicate, and most incoming documents with an exact
    * pair in the stored corpus are flagged. */
  private def checkFlags(q: String)(got: Answers.Rows): Option[String] = {
    val incoming = (0 until nDocs).map(_.toLong).filter(truth.isIncoming)
    val flags = got.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Boolean]).toMap
    val flagged = flags.collect { case (d, true) => d }.toSet
    val mustFlag = truth.pairs.keys.collect {
      case (a, b) if truth.isIncoming(a) != truth.isIncoming(b) => if (truth.isIncoming(a)) a else b
    }.toSet
    if (got.map(_.head) != incoming) Some(s"$q did not return each incoming document once, in order")
    else if (!flagged.subsetOf(truth.clustered))
      Some(s"$q flagged docs without a near-duplicate: ${(flagged -- truth.clustered).take(3)}")
    else recallOf(q, mustFlag.count(flagged), mustFlag.size)
  }

  private def check(q: String): Answers.Rows => Option[String] = q match {
    case "q41" => checkPairs(q, exact = true)
    case "q49" => checkPairs(q, exact = true)
    case "q50" => checkPairs(q, exact = false)
    case "q73" => got =>
      if (Answers.equal(got, truth.components, ordered = true)) None
      else Some(s"q73 components differ: got ${got.length} rows, want ${truth.components.length}")
    case _ => checkFlags(q)
  }

  /** One pass over the family, in a fixed order. */
  def unit(): Unit = Pipelines.foreach { case (short, name) =>
    ctx.query(name, nDocs)(ctx.tracer.span("queries", s"queries.neardup.$short") {
      graft.SparkEntry.queries(name)(spark, dir.toString)
    })(check(short))
  }

  /** Each pipeline once over a 20-document corpus: its fixed cost. */
  def traceExtras(out: mutable.Map[String, Double]): Unit = {
    val floorDir = ctx.freshDir("dedup-floor")
    writeDocs(docRows(texts.take(20).toIndexedSeq), floorDir)
    out("spark.floor_ms") = Util.median(Pipelines.map { case (_, name) =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, floorDir.toString).collect()
      Util.ms(t0)
    })
  }

  def inputDigest: String = {
    val d = new Digest
    texts.foreach(d.string)
    d.hex
  }
  def userBytes: Long = userB
  def storedBytes: Long = stored
}

object Dedup {
  /** The near-dup family: short name -> query key in graft.SparkEntry. */
  val Pipelines: Seq[(String, String)] = Seq("q41" -> "q41_dedup_ngram_jaccard",
    "q73" -> "q73_dedup_components", "q49" -> "q49_dedup_minhash_lsh",
    "q50" -> "q50_dedup_simhash", "q172" -> "q172_stream_neardup_corpus",
    "q175" -> "q175_stream_neardup_grow")

  /** Least share of the exact pairs (q49, q50) or of the incoming
    * documents with an exact pair in the stored corpus (q172, q175) that
    * an approximate pipeline must find. */
  val RecallFloor: Map[String, Double] =
    Map("q41" -> 1.0, "q49" -> 0.95, "q50" -> 0.8, "q172" -> 0.95, "q175" -> 0.95)
}
