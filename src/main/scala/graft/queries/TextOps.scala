package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data text pipeline: deduplication and text analysis over
  * the `documents` table.
  *
  * All queries here are pure `functions._`/lambda expressions (no UDFs) so
  * they stay inside whole-stage codegen, and every one has a DuckDB oracle.
  *
  * Scale notes (100 TB):
  * - exact dedup is a single hash shuffle on the text digest (not the full
  *   text) — group keys stay 16 bytes regardless of document size;
  * - n-gram Jaccard self-joins only each doc's prefix shingles (the
  *   inverted-index join, pruned); the DF join-back partitions by
  *   shingle hash, so it parallelizes linearly and AQE handles hot
  *   shingles (stopword runs) via skew-join splitting. The
  *   `groupBy(shingle)` DF count is map-side combinable.
  * - thresholds compare as exact integer arithmetic (inter*10 >= union*8)
  *   so engine float rounding can never flip a pair in or out.
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** doc_id + distinct word-3-gram shingle set, one row per shingle.
    * Generated by the [[graft.functions.ShingleGen]] UDTF — one pass,
    * no interpreted lambda chain (q41/q73 scan through this).
    */
  private[queries] def shingles(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        graft.functions.ShingleGen.shingles(col("text")).as(Seq("shingle")))

  /** Exact verification shared by the near-dup pipelines (q41, q73,
    * q49): each candidate pair (id_a < id_b) joins both endpoints' set
    * rows (doc_id, ss: shingle array, n = its size) and survives iff
    * |A∩B|·10 ≥ |A∪B|·8, J ≥ 0.8 in exact integer arithmetic.
    */
  private[queries] def verified(cand: DataFrame, sets: DataFrame): DataFrame = {
    def side(id: String, ss: String, n: String) =
      sets.select(col("doc_id").as(id), col("ss").as(ss), col("n").as(n))
    cand
      .join(side("id_a", "sa", "na"), "id_a")
      .join(side("id_b", "sb", "nb"), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * 8)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("un"), 4).as("jaccard"))
  }

  /** Exact n-gram-Jaccard near-dup pairs at J >= 0.8 (shared by q41 and
    * the q73 component builder). See the q41 scale-hardening notes.
    *
    * CANDIDATE GENERATION IS PREFIX-FILTERED: the full inverted-index
    * self-join counts every co-occurring (pair, shingle) row (1.27M rows
    * → a 1.13M-key pair count at sf0.1). The prefix filtering principle
    * (Chaudhuri et al. SSJoin / Xiao et al. PPJoin) says two sets A, B
    * sorted by one global token order with |A∩B| ≥ o must share a token
    * among their first |A|−o+1 / |B|−o+1 tokens. The declared threshold
    * is exact-integer J ≥ 0.8 (inter·10 ≥ un·8 ⟺ 18·inter ≥ 8(nA+nB)),
    * which with inter ≤ min(nA,nB) forces the partner size within
    * [⌈4n/5⌉, ⌊5n/4⌋] and therefore o ≥ ⌈4n/5⌉ FOR EACH side n — so
    * only the first n − ⌈4n/5⌉ + 1 = ⌊n/5⌋+1 tokens of each doc can
    * witness a qualifying pair, and a pair whose sizes break
    * min·5 ≥ max·4 (the PPJoin length filter) cannot qualify at all.
    * Every surviving pair is then verified EXACTLY by [[verified]] over
    * the full df-filtered shingle sets, so the candidate superset cannot
    * change the output — pinned by PrefixFilterDifferentialSpec against
    * the unpruned reference join.
    * The global token order is (document frequency, shingle): rarest
    * first, the standard prefix-filter ordering, so prefixes hold each
    * doc's least-shared shingles, which minimizes candidate collisions.
    * Both steps read ONE row per doc, built by one aggregate.
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sets = shingleSets(s, d)
    verified(prefixCandidates(sets), sets)
  }

  /** One row per doc, (doc_id, ss, n): its shingles of document
    * frequency at most tau = max(50, N/10), ordered by (df, shingle).
    */
  private[queries] def shingleSets(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    // tau rides the SAME job as a 1-row count aggregate crossed into the
    // DF filter (the scalar-subquery idiom, like q126): no count() action
    val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
    // the DF is joined back to the shingles rather than computed by a
    // window on the shingle: AQE splits a hot shingle's rows across
    // tasks only through a join
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(50L), expr("n_docs div 10")))
      .select(col("shingle"), col("df"))
    sh.join(df, "shingle")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("toks"))
      .select(col("doc_id"), col("toks.shingle").as("ss"),
        size(col("toks")).as("n"))
  }

  /** Candidate pairs (id_a < id_b) of [[shingleSets]] rows: the pairs
    * whose prefixes share a shingle and whose sizes pass the length
    * filter. The prefix is the ⌊n/5⌋+1 rarest shingles of each doc
    * (n − ⌈4n/5⌉ + 1 with ⌈4n/5⌉ = (4n+4) div 5 — exact integer
    * arithmetic).
    */
  private[queries] def prefixCandidates(sets: DataFrame): DataFrame = {
    val prefix = sets.select(col("doc_id"), col("n"),
      explode(expr("slice(ss, 1, n - ((4*n + 4) div 5) + 1)")).as("tok"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 5 >= greatest(col("a.n"), col("b.n")) * 4)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content digest, keep the smallest doc_id as
    // the canonical representative (16-byte keys — never shuffles text).
    "q40_dedup_exact" -> ((s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("digest"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
        .select("keep_id", "copies")
        .orderBy("keep_id")),

    // N-gram Jaccard near-dup pairs: prefix-filtered self-join on 3-gram
    // shingles, exact |A∩B| / |A∪B| >= 0.8 by integer arithmetic (see
    // jaccardPairs).
    //
    // Scale hardening (deterministic, mirrored in the oracle):
    // DOCUMENT-FREQUENCY CUTOFF: shingles present in more than
    // max(50, N/10) documents (stopword runs, boilerplate) carry ~no
    // similarity signal at J>=0.8 but dominate the pair blowup —
    // dropping them from the shingle universe bounds candidate pairs
    // at |shingles|·(N/10)²/2 instead of unbounded. The Jaccard is
    // exact over the filtered universe, and the SAME filter runs in
    // DuckDB, so the hash check stays authoritative.
    "q41_dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d).orderBy("id_a", "id_b")),

    // Cross-corpus BOILERPLATE share (the RefinedWeb/CCNet cross-document
    // repetition signal, complementing q82's WITHIN-doc repetition): per
    // document, the share of its distinct 3-gram shingles that occur in
    // more than tau = max(20, N/20) documents corpus-wide — headers,
    // navigation, license blurbs. The boilerplate SET is inherently
    // small (few shingles clear a corpus-wide DF bar), so the per-doc
    // count is a BROADCAST semi join against it; the only wide exchange
    // is the map-side-combinable DF aggregate on the shingle.
    "q163_boilerplate_share" -> ((s, d) => {
      val sh = shingles(s, d)
      // tau = max(20, N/20) in the same job (1-row count aggregate
      // crossed into the DF filter) — no separate docs.count() action
      val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val boiler = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") > greatest(lit(20L), expr("n_docs div 20")))
        .select("shingle")
      val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val b = sh.join(broadcast(boiler), Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("boiler_sh"))
      n.join(b, Seq("doc_id"), "left")
        .withColumn("boiler_sh", coalesce(col("boiler_sh"), lit(0L)))
        .withColumn("boiler_e4", expr("boiler_sh * 10000 div n_sh"))
        .select("doc_id", "n_sh", "boiler_sh", "boiler_e4")
        .orderBy("doc_id")
    }),

    // Dedup keeper selection: connected components over the near-dup
    // pair graph via distributed min-label propagation (the step that
    // turns PAIRS into per-document canonical representatives — what a
    // dedup pipeline actually executes). Edges are materialized once
    // (localCheckpoint ≙ cluster checkpoint), then each iteration is one
    // join + aggregate; iterations bound by component diameter (tiny for
    // near-dup clusters). Oracle: DuckDB recursive-CTE transitive
    // closure over the same pair set — exact hash compare.
    "q73_dedup_components" -> ((s, d) => {
      val pairs = jaccardPairs(s, d).select("id_a", "id_b")
      // driver union-find fast path + distributed min-label fallback,
      // shared with the cosine keeper (q128) — see [[Components]]
      Components.roots(pairs, "doc_id")(s)
    }),

    // Language ID: stopword-marker n-gram heuristic (argmax of per-language
    // marker-word hit counts; 'und' when nothing matches).
    "q42_lang_id" -> ((s, d) =>
      docs(s, d)
        .withColumn("words", split(col("text"), " "))
        .withColumn("en_hits", expr(
          "size(filter(words, w -> w IN ('the','a','of','and','to')))"))
        .withColumn("es_hits", expr(
          "size(filter(words, w -> w IN ('el','la','de','y','que')))"))
        .withColumn("de_hits", expr(
          "size(filter(words, w -> w IN ('der','die','das','und','ist')))"))
        .withColumn("pred_lang",
          when(col("en_hits") >= col("es_hits") &&
               col("en_hits") >= col("de_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, "es")
          .when(col("de_hits") > 0, "de")
          .otherwise("und"))
        .groupBy("pred_lang", "lang")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("pred_lang", "lang")),

    // Quality scoring: length / word stats / stopword ratio → score.
    // The score is computed in scaled INTEGER arithmetic (×10000, integer
    // div) — float rounding at a .5 tie must never flip the 4th decimal
    // between engines.
    "q43_text_quality" -> ((s, d) =>
      docs(s, d)
        .withColumn("words", split(col("text"), " "))
        .withColumn("n_words", size(col("words")))
        .withColumn("n_stop", expr(
          "size(filter(words, w -> w IN " +
            "('the','a','of','and','to','in','is')))"))
        .withColumn("chars", length(col("text")))
        .withColumn("n_digit", col("chars") -
          length(regexp_replace(col("text"), "[0-9]", "")))
        .withColumn("avg_word_len", round(
          expr("aggregate(words, 0L, (a, w) -> a + length(w))")
            .cast("double") / col("n_words"), 4))
        .withColumn("stop_ratio", round(
          col("n_stop").cast("double") / col("n_words"), 4))
        .withColumn("digit_ratio", round(
          col("n_digit").cast("double") / col("chars"), 4))
        .withColumn("quality_score", expr(
          "CAST(40 * least(n_words, 100)" +
            " + (3000 * (n_words - n_stop)) div n_words" +
            " + (3000 * (chars - n_digit)) div chars AS DOUBLE)" +
            " / CAST(10000 AS DOUBLE)"))
        .select("doc_id", "n_words", "avg_word_len", "stop_ratio",
          "digit_ratio", "quality_score")
        .orderBy("doc_id")),

    // Token counting: whitespace tokens + BPE-ish regex tokens.
    "q44_token_count" -> ((s, d) =>
      docs(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"),
          length(col("text")).as("chars"))
        .orderBy("doc_id")),

    // TF-IDF: corpus-wide document frequencies (one small aggregate,
    // broadcast back) + per-doc term frequencies → top-scored term per
    // document. ln() on identical doubles is IEEE-deterministic, so the
    // oracle matches bit-for-bit.
    "q46b_tfidf_top_term" -> ((s, d) => {
      val words = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      // N rides the broadcast DF side as a 1-row aggregate — same
      // double arithmetic as before (n.toDouble / df), one job
      val nDocs = docs(s, d)
        .agg(count(lit(1)).cast("double").as("n_docs"))
      val dfreq = words.select("doc_id", "word").distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
        .crossJoin(nDocs)
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score"), asc("word"))
      tf.join(broadcast(dfreq), "word")
        .withColumn("score",
          col("tf") * log(col("n_docs") / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("word").as("top_word"),
          round(col("score"), 4).as("tfidf"))
        .orderBy("doc_id")
    }),

    // End-to-end corpus curation: what a training-data job actually runs
    // as ONE pipeline — per-doc features in a single codegen scan (quality
    // in scaled-integer arithmetic, lang-ID heuristic, content digest),
    // exact dedup as a 16-byte digest shuffle + doc_id SEMI-join (the
    // document text itself never shuffles), then the per-(lang, source)
    // corpus report. Every gate is integer-deterministic, so the whole
    // composite hash-matches the DuckDB oracle.
    "q74_curation_pipeline" -> ((s, d) => {
      val f = docs(s, d)
        .withColumn("words", split(col("text"), " "))
        .withColumn("n_words", size(col("words")))
        .withColumn("n_stop", expr(
          "size(filter(words, w -> w IN " +
            "('the','a','of','and','to','in','is')))"))
        .withColumn("chars", length(col("text")))
        .withColumn("n_digit", col("chars") -
          length(regexp_replace(col("text"), "[0-9]", "")))
        // quality ×10000 in pure integer math (shared formula with q43)
        .withColumn("q_int", expr(
          "CAST(40 * least(n_words, 100)" +
            " + (3000 * (n_words - n_stop)) div n_words" +
            " + (3000 * (chars - n_digit)) div chars AS BIGINT)"))
        .withColumn("en_hits", expr(
          "size(filter(words, w -> w IN ('the','a','of','and','to')))"))
        .withColumn("es_hits", expr(
          "size(filter(words, w -> w IN ('el','la','de','y','que')))"))
        .withColumn("de_hits", expr(
          "size(filter(words, w -> w IN ('der','die','das','und','ist')))"))
        .withColumn("pred_lang",
          when(col("en_hits") >= col("es_hits") &&
               col("en_hits") >= col("de_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, "es")
          .when(col("de_hits") > 0, "de")
          .otherwise("und"))
        .withColumn("digest", md5(col("text")))
        .select("doc_id", "source", "digest", "n_words", "q_int", "pred_lang")
      val keep = f.groupBy("digest").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      f.join(keep, Seq("doc_id"), "left_semi")
        .filter(col("pred_lang") =!= "und" &&
          col("q_int") >= 5000 && col("n_words") >= 5)
        .groupBy("pred_lang", "source")
        .agg(
          count(lit(1)).as("docs_kept"),
          sum(col("n_words").cast("long")).as("total_words"),
          round(min("q_int").cast("double") / lit(10000).cast("double"), 4)
            .as("min_q"),
          round(max("q_int").cast("double") / lit(10000).cast("double"), 4)
            .as("max_q"))
        .orderBy("pred_lang", "source")
    }),

    // Document fingerprint: rolling polynomial hash over words
    // (order-sensitive, mod 1e9+7 each step so i64 never overflows).
    "q45_fingerprint" -> ((s, d) =>
      docs(s, d)
        .withColumn("words", split(col("text"), " "))
        .withColumn("fp", expr(
          "aggregate(words, 0L, (acc, w) -> " +
            "pmod(acc * 31 + length(w) * 7 + ascii(substring(w, 1, 1)), " +
            "1000000007L))"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("fp")).as("distinct_fp"),
          min("fp").as("min_fp"))
        .orderBy("source"))
  )

  val oracleSql: Map[String, String] = Map(
    "q40_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q41_dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         range(1, len(words) - 1),
        |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |         AS shingles
        |       FROM w WHERE len(words) >= 3),
        |e0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |tau AS (SELECT greatest(50, count(*) // 10) AS tau FROM w),
        |df AS (SELECT shingle, count(*) AS df FROM e0 GROUP BY 1),
        |e AS (SELECT e0.doc_id, e0.shingle FROM e0
        |      JOIN df ON df.shingle = e0.shingle, tau
        |      WHERE df.df <= tau.tau),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |      FROM e a JOIN e b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(inter * 1.0 / (za.n + zb.n - inter), 4) AS jaccard
        |FROM p JOIN sz za ON za.doc_id = id_a
        |JOIN sz zb ON zb.doc_id = id_b
        |WHERE inter * 10 >= (za.n + zb.n - inter) * 8
        |ORDER BY id_a, id_b""".stripMargin,

    // same shingle universe + DF as q41, different signal: per-doc share
    // of corpus-boilerplate shingles
    "q163_boilerplate_share" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         range(1, len(words) - 1),
        |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |         AS shingles
        |       FROM w WHERE len(words) >= 3),
        |e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |tau AS (SELECT greatest(20, count(*) // 20) AS tau FROM w),
        |df AS (SELECT shingle, count(*) AS df FROM e GROUP BY 1),
        |b AS (SELECT df.shingle FROM df, tau WHERE df.df > tau.tau),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY 1),
        |bc AS (SELECT e.doc_id, count(*) AS boiler_sh FROM e
        |       JOIN b USING (shingle) GROUP BY 1)
        |SELECT n.doc_id, n.n_sh,
        |  coalesce(bc.boiler_sh, 0) AS boiler_sh,
        |  (coalesce(bc.boiler_sh, 0) * 10000) // n.n_sh AS boiler_e4
        |FROM n LEFT JOIN bc ON bc.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // same pair chain as q41, then transitive closure → component roots
    "q73_dedup_components" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         range(1, len(words) - 1),
        |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |         AS shingles
        |       FROM w WHERE len(words) >= 3),
        |e0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |tau AS (SELECT greatest(50, count(*) // 10) AS tau FROM w),
        |df AS (SELECT shingle, count(*) AS df FROM e0 GROUP BY 1),
        |e AS (SELECT e0.doc_id, e0.shingle FROM e0
        |      JOIN df ON df.shingle = e0.shingle, tau
        |      WHERE df.df <= tau.tau),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |      FROM e a JOIN e b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM p
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE inter * 10 >= (za.n + zb.n - inter) * 8),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS doc_id, min(v) AS component_root,
        |  (u = min(v)) AS is_canonical
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,

    "q42_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS words
        |           FROM documents),
        |h AS (SELECT doc_id, lang,
        |  len(list_filter(words,
        |    w -> list_contains(['the','a','of','and','to'], w))) AS en_hits,
        |  len(list_filter(words,
        |    w -> list_contains(['el','la','de','y','que'], w))) AS es_hits,
        |  len(list_filter(words,
        |    w -> list_contains(['der','die','das','und','ist'], w))) AS de_hits
        |  FROM t)
        |SELECT CASE
        |    WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0
        |      THEN 'en'
        |    WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |    WHEN de_hits > 0 THEN 'de'
        |    ELSE 'und' END AS pred_lang,
        |  lang, count(*) AS cnt
        |FROM h GROUP BY pred_lang, lang ORDER BY pred_lang, lang""".stripMargin,

    "q43_text_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS words
        |           FROM documents),
        |m AS (SELECT doc_id, text, words,
        |  CAST(len(words) AS INTEGER) AS n_words,
        |  CAST(len(list_filter(words, w -> list_contains(
        |    ['the','a','of','and','to','in','is'], w))) AS BIGINT) AS n_stop,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
        |    AS n_digit,
        |  round(CAST(list_sum(list_transform(words, w -> length(w)))
        |    AS DOUBLE) / len(words), 4) AS avg_word_len
        |  FROM t)
        |SELECT doc_id, n_words, avg_word_len,
        |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
        |  round(CAST(n_digit AS DOUBLE) / chars, 4) AS digit_ratio,
        |  CAST(40 * least(n_words, 100)
        |    + (3000 * (n_words - n_stop)) // n_words
        |    + (3000 * (chars - n_digit)) // chars AS DOUBLE) / 10000.0
        |    AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,

    "q44_token_count" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |  AS INTEGER) AS bpe_tokens,
        |CAST(length(text) AS INTEGER) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q46b_tfidf_top_term" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |w2 AS (SELECT doc_id, word FROM words WHERE length(word) > 0),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |dfreq AS (
        |  SELECT word, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, word FROM w2) GROUP BY word),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, word AS top_word, round(score, 4) AS tfidf
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q74_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, source, text,
        |            string_split(text, ' ') AS words FROM documents),
        |m AS (SELECT doc_id, source, text,
        |  CAST(len(words) AS INTEGER) AS n_words,
        |  CAST(len(list_filter(words, w -> list_contains(
        |    ['the','a','of','and','to','in','is'], w))) AS BIGINT) AS n_stop,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
        |    AS n_digit,
        |  len(list_filter(words,
        |    w -> list_contains(['the','a','of','and','to'], w))) AS en_hits,
        |  len(list_filter(words,
        |    w -> list_contains(['el','la','de','y','que'], w))) AS es_hits,
        |  len(list_filter(words,
        |    w -> list_contains(['der','die','das','und','ist'], w))) AS de_hits
        |  FROM t),
        |f AS (SELECT doc_id, source, n_words,
        |  CAST(40 * least(n_words, 100)
        |    + (3000 * (n_words - n_stop)) // n_words
        |    + (3000 * (chars - n_digit)) // chars AS BIGINT) AS q_int,
        |  CASE
        |    WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0
        |      THEN 'en'
        |    WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |    WHEN de_hits > 0 THEN 'de'
        |    ELSE 'und' END AS pred_lang,
        |  md5(text) AS digest FROM m),
        |keep AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY digest)
        |SELECT pred_lang, source, count(*) AS docs_kept,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  round(CAST(min(q_int) AS DOUBLE) / CAST(10000 AS DOUBLE), 4)
        |    AS min_q,
        |  round(CAST(max(q_int) AS DOUBLE) / CAST(10000 AS DOUBLE), 4)
        |    AS max_q
        |FROM f
        |WHERE doc_id IN (SELECT doc_id FROM keep)
        |  AND pred_lang <> 'und' AND q_int >= 5000 AND n_words >= 5
        |GROUP BY pred_lang, source
        |ORDER BY pred_lang, source""".stripMargin,

    "q45_fingerprint" ->
      """WITH f AS (SELECT doc_id, source,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      w -> CAST(length(w) * 7 + ascii(substring(w, 1, 1)) AS BIGINT))),
        |    (acc, t) -> (acc * 31 + t) % 1000000007) AS fp
        |  FROM documents)
        |SELECT source, count(*) AS cnt,
        |  count(DISTINCT fp) AS distinct_fp, min(fp) AS min_fp
        |FROM f GROUP BY source ORDER BY source""".stripMargin
  )
}
