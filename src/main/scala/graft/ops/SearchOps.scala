package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.functions.Text

/** BM25 keyword retrieval over the document corpus — the lexical-search
  * complement to the ANN surface ([[graft.similarity.Ann]]): score every
  * document against a literal term set with the Robertson/Spärck Jones
  * Okapi BM25 weighting and return the top-k.
  *
  * 100 TB shape: for a literal query the per-document term frequencies
  * are pure column expressions (`size(filter(toks, = term))`) — no
  * explode, no inverted-index shuffle. The whole query is ONE
  * full-corpus aggregation collapsing to a single stats row (N, Σdl,
  * per-term document frequencies — broadcast back via cross join) plus
  * ONE TakeOrdered for the top-k. Nothing wide ever shuffles; pinned in
  * PlanShapeSpec.
  *
  * Float determinism: idf and the length normalization are fixed double
  * sequences from integer corpus stats (identical on both engines); each
  * term's contribution is quantized to micro-units (BIGINT) and the
  * per-document score is their exact integer sum, so ranking ties are
  * exact, with doc_id as the total-order tie-break.
  */
object SearchOps {

  /** Top-k documents by BM25 over a literal term set. Documents hitting
    * none of the terms are excluded (score 0 carries no evidence).
    * Output: (doc_id, lang, n_terms_hit, score_micro, rank). */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "terms must be non-empty and distinct")

    def tfCol(t: String): Column =
      size(filter(col("toks"), x => x === lit(t))).cast("long")

    val base = docs.select(col(idCol).as("doc_id"), col("lang"),
        Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id") +: col("lang") +:
        size(col("toks")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) => tfCol(t).as(s"tf_$i") }: _*)

    // one corpus pass → a single stats row: N, Σdl, df per term
    val statCols = Seq(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val statsRaw = base.agg(statCols.head, statCols.tail: _*)
    // the 20-step portable-log idf evaluates ONCE per term on this
    // single stats row, never per corpus row (interpreted HOF cost)
    val stats = statsRaw.select(col("*") +: terms.indices.map(i =>
      graft.functions.PortableMath.longDiv(
        graft.functions.PortableMath.log2Micro(
          col("n_docs") * 2L + 2L,
          col(s"df_$i") * 2L + 1L) * lit(693147181L),
        lit(1048576000L)).as(s"idf_$i")): _*)

    // idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((2N+2)/(2df+1)) —
    // an integer-ratio log, so it goes through the PORTABLE log2 (no
    // libm; the sf0.1-sweep contract) to exact micro-nats. The length-
    // normalization factor is pure IEEE +,*,/ (deterministic), and
    // round-to-INTEGER of the same double is engine-safe, so the
    // micro-unit contribution sums exactly in any order.
    def contrib(i: Int): Column = {
      val tf = col(s"tf_$i").cast("double")
      val idfMicro = col(s"idf_$i")
      val norm = lit(1.0) - lit(b) +
        lit(b) * col("dl").cast("double") /
          (col("sum_dl").cast("double") / col("n_docs").cast("double"))
      when(col(s"tf_$i") > 0,
        round(idfMicro.cast("double") * tf * lit(k1 + 1.0) /
          (tf + lit(k1) * norm), 0).cast("long"))
        .otherwise(lit(0L))
    }

    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("lang"),
        terms.indices.map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
          .reduce(_ + _).as("n_terms_hit"),
        terms.indices.map(contrib).reduce(_ + _).as("score_micro"))
      .filter(col("n_terms_hit") > 0)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id"))))
  }

  /** Gate fixture: three mid-frequency corpus terms, top-20. */
  private val gateTerms = Seq("table", "value", "window")

  def searchBm25(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(load(spark, dir, "documents"), gateTerms, k = 20)

  private val searchBm25Oracle: String = {
    val tfs = gateTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n      |    ")
    val dfs = gateTerms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val contribs = gateTerms.indices.map { i =>
      s"""CASE WHEN tf_$i > 0 THEN CAST(round(
         |      CAST(idf_$i AS DOUBLE) *
         |      CAST(tf_$i AS DOUBLE) * 2.2 /
         |      (CAST(tf_$i AS DOUBLE) + 1.2 * (1.0 - 0.75 +
         |        0.75 * CAST(dl AS DOUBLE) /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
         |      ) AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" +\n      |    ")
    val idfPairs = gateTerms.indices.map(i =>
      s"SELECT 2 * n_docs + 2 AS rn, 2 * df_$i + 1 AS rd FROM s")
      .mkString("\n      |  UNION\n      |  ")
    val idfCols = gateTerms.indices.map(i =>
      s"""(SELECT (l.lmicro * 693147181) // 1048576000 FROM blg l, s
         |    WHERE l.pm_num = 2 * s.n_docs + 2
         |      AND l.pm_den = 2 * s.df_$i + 1) AS idf_$i""".stripMargin)
      .mkString(",\n      |  ")
    val hits = gateTerms.indices.map(i =>
      s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE d AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(text, ' +'), w -> w != '') AS toks
       |  FROM documents),
       |t AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl,
       |    $tfs
       |  FROM d),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl, $dfs FROM t),
       |bp AS ($idfPairs),
       |${graft.functions.PortableMath
          .sqlLog2MicroCtes("bp", "rn", "rd", "blg")},
       |idf AS (SELECT
       |  $idfCols
       |  FROM s),
       |sc AS (SELECT doc_id, lang,
       |    CAST($hits AS BIGINT) AS n_terms_hit,
       |    $contribs AS score_micro
       |  FROM t, s, idf)
       |SELECT doc_id, lang, n_terms_hit, score_micro,
       |  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT)
       |    AS rank
       |FROM sc WHERE n_terms_hit > 0
       |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Inverted-index construction — the search-index BUILD step
    * [[bm25TopK]]'s literal-query fast path avoids at query time: one
    * distinct (token, doc) explode, then a token-keyed aggregate
    * emitting document frequency and the posting list. The gate keeps
    * terms with df ≥ 50 and truncates postings to the first 20 sorted
    * doc ids (bounding output, the way a dictionary page stores a
    * posting-list prefix + continuation); postings ship as a joined
    * string so the differential compares exact list content.
    *
    * 100 TB shape: the explode is the one corpus-sized stage and
    * partial-aggregates map-side (distinct (token, doc) pairs); the
    * per-token rollup shuffles pairs once, keyed by token — posting
    * lists build sorted per token via array_sort of the collected
    * bucket, never a global sort. Skewed stopword tokens are the known
    * hazard: cap posting collection (as here) or salt-and-merge the
    * hottest tokens. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = load(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .distinct()
    val dfs = pairs.groupBy("tok").agg(count(lit(1)).as("df"))
    // rank-limit BEFORE collecting: the posting prefix aggregates over
    // at most 20 rows per token (the row_number()<=k form rewrites to
    // the partial TopKPerGroup, so a stopword token's millions of doc
    // ids never reach one reducer's collect buffer — only k survive
    // each map task). df still counts the full posting set.
    val top = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("tok").orderBy("doc_id")))
      .filter(col("rn") <= 20)
      .groupBy("tok")
      .agg(concat_ws(",", array_sort(collect_list(col("doc_id"))))
        .as("postings20"))
    dfs.join(top, Seq("tok"))
      .filter(col("df") >= 50)
      .select("tok", "df", "postings20")
      .orderBy("tok")
  }

  private val invertedIndexOracle: String =
    """WITH p AS (SELECT DISTINCT doc_id,
      |    unnest(list_filter(regexp_split_to_array(text, ' +'),
      |      w -> w != '')) AS tok
      |  FROM documents),
      |g AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
      |    array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
      |      AS postings20
      |  FROM p GROUP BY tok)
      |SELECT tok, df, postings20 FROM g WHERE df >= 50
      |ORDER BY tok""".stripMargin

  /** Cosine-normalized TF-IDF retrieval — the VECTORIZER complement to
    * [[bm25TopK]]'s literal-query fast path: where BM25 needs only the
    * query terms' frequencies, the cosine norm needs every doc's FULL
    * tf-idf vector, so this is the honest explode → df-join → per-doc
    * norm shape a TfidfVectorizer runs at corpus scale.
    *
    * Every stage is a keyed partial aggregate over (doc, token) pairs:
    * explode (corpus-sized, map-side), tf groupBy, df groupBy (|vocab|
    * rows, broadcast back), norm groupBy, query-term dot groupBy, top-k
    * through the partial TopKPerGroup rewrite. No all-pairs, no collect.
    *
    * Float determinism: idf = ln((N+1)/(df+1)) + 1 is a fixed double
    * from integer corpus stats; each (doc, token) weight quantizes to
    * MILLI-units (BIGINT) before any sum, so the norm² and the query dot
    * are exact integer sums (milli² keeps norm² < 2^53 for any plausible
    * doc); the only float ops after that are one sqrt and one divide per
    * doc — identical sequences on both engines — rounded to 6 places
    * with doc_id as the total-order tie-break. */
  def tfidfTopK(docs: DataFrame, terms: Seq[String], k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "terms must be non-empty and distinct")
    val base = docs.select(col(idCol).as("doc_id"),
      Text.tokens(col(textCol)).as("toks"))
    val stats = broadcast(base.agg(count(lit(1)).as("n_docs")))
    val tf = base.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // weight = tf·(ln((N+1)/(df+1)) + 1) in exact milli-units via the
    // portable micro-nat log — the (N, df) pairs repeat across the
    // whole vocabulary, the amplified libm-boundary class. The 20-step
    // digit extraction is an interpreted HOF, so it runs ONCE PER
    // TOKEN on the vocabulary-bounded dfs frame (measured 2.8x on the
    // gate when inlined per corpus row), and the corpus-sized weight
    // projection is one all-BIGINT multiply/DIV per row.
    val dfs2 = dfs.crossJoin(stats)
      .select(col("token"), graft.functions.PortableMath.longDiv(
        graft.functions.PortableMath.log2Micro(
          col("n_docs") + 1L, col("df") + 1L) * lit(693147181L),
        lit(1048576000L)).as("lnm"))
    val w = tf.join(dfs2, "token")
      .select(col("doc_id"), col("token"),
        graft.functions.PortableMath.longDiv(
          col("tf") * (col("lnm") + lit(1000000L)), lit(1000L)).as("c"))
    // ONE aggregation pass computes the norm AND the query dot: norm
    // and hits as separate branches each re-derived the corpus-sized
    // explode -> tf -> df-join subtree (their post-join exchanges
    // differ, so nothing above the join reuses — Profile jobs showed two
    // ~10 s twin jobs at 32x, the whole super-linear residue of the
    // scale probe). Conditional sums over the same rows cost nothing
    // extra; docs with no query term drop exactly as the old semi
    // shape dropped them.
    val isHit = col("token").isin(terms: _*)
    val hits = w.groupBy("doc_id").agg(
        sum(col("c") * col("c")).as("n2"),
        count(when(isHit, lit(1))).as("n_terms_hit"),
        sum(when(isHit, col("c"))).as("dot"))
      .filter(col("n_terms_hit") > 0)
    // UNROUNDED score: dot and n2 are exact integers, sqrt is IEEE
    // correctly-rounded, one division — bit-identical across engines;
    // round(,6) was the tie hazard (perfect-square n2 terminates)
    hits
      .select(col("doc_id"), col("n_terms_hit"),
        (col("dot").cast("double") / sqrt(col("n2").cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
  }

  def searchTfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTopK(load(spark, dir, "documents"), gateTerms, k = 20)

  private val searchTfidfOracle: String = {
    val inList = gateTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH RECURSIVE d AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, ' +'), w -> w != '')
       |      AS toks
       |  FROM documents),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
       |tf AS (SELECT doc_id, tok AS token, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2),
       |dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |ip AS (SELECT DISTINCT s.n_docs + 1 AS rn, dfs.df + 1 AS rd
       |  FROM dfs, s),
       |${graft.functions.PortableMath
          .sqlLog2MicroCtes("ip", "rn", "rd", "ilg")},
       |w AS (SELECT tf.doc_id, tf.token,
       |    (tf.tf * ((l.lmicro * 693147181) // 1048576000 + 1000000))
       |      // 1000 AS c
       |  FROM tf JOIN dfs USING (token), s
       |  JOIN ilg l ON l.pm_num = s.n_docs + 1 AND l.pm_den = dfs.df + 1),
       |norm AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2
       |  FROM w GROUP BY 1),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
       |    CAST(sum(c) AS BIGINT) AS dot
       |  FROM w WHERE token IN ($inList) GROUP BY 1)
       |SELECT h.doc_id, h.n_terms_hit,
       |  CAST(h.dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) AS score,
       |  CAST(row_number() OVER (ORDER BY
       |    CAST(h.dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE))
       |      DESC, h.doc_id) AS INT) AS rank
       |FROM hits h JOIN norm n USING (doc_id)
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Hybrid retrieval — reciprocal rank fusion (Cormack et al., SIGIR
    * 2009) of the lexical and semantic channels, the standard RAG
    * retriever shape: BM25 top-50 for the query terms fused with the
    * embedding-cosine top-50 for the query vector (vec 0, the
    * q_ann_brute_force probe convention) by
    * `rrf = Σ 1/(60 + rank_channel)`, missing channels contributing 0.
    * Every input rank is deterministic (integer/round-6 scores with
    * doc_id tie-breaks) and rrf is two exactly-rounded IEEE ops on
    * small-integer reciprocals, so the fusion replays bit-exactly in
    * the oracle — no tolerance anywhere.
    *
    * 100 TB shape: the two channels are the already-scaled operators
    * (BM25's literal-term single corpus pass; brute cosine standing in
    * for the IVF/PQ serving path, all gated elsewhere); fusion itself
    * touches only the 2×50 channel survivors — driver-scale work. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.CosineSimilarity.cosineNative
    val lex = bm25TopK(load(spark, dir, "documents"), gateTerms, k = 50)
      .select(col("doc_id"), col("rank").as("rank_lex"))
    val emb = load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val sem = emb.crossJoin(broadcast(q))
      .select(col("vec_id").cast("long").as("doc_id"),
        round(cosineNative(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(50)
      .withColumn("rank_sem", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("doc_id"))))
      .select("doc_id", "rank_sem")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_sem")), lit(0.0)))
          .as("rrf"),
        col("rank_lex"), col("rank_sem"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf").desc, col("doc_id"))))
  }

  private val hybridSearchOracle: String = {
    val tfs = gateTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n      |    ")
    val dfs = gateTerms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val contribs = gateTerms.indices.map { i =>
      s"""CASE WHEN tf_$i > 0 THEN CAST(round(
         |      CAST(idf_$i AS DOUBLE) *
         |      CAST(tf_$i AS DOUBLE) * 2.2 /
         |      (CAST(tf_$i AS DOUBLE) + 1.2 * (1.0 - 0.75 +
         |        0.75 * CAST(dl AS DOUBLE) /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
         |      ) AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" +\n      |    ")
    val idfPairs = gateTerms.indices.map(i =>
      s"SELECT 2 * n_docs + 2 AS rn, 2 * df_$i + 1 AS rd FROM s")
      .mkString("\n      |  UNION\n      |  ")
    val idfCols = gateTerms.indices.map(i =>
      s"""(SELECT (l.lmicro * 693147181) // 1048576000 FROM blg l, s
         |    WHERE l.pm_num = 2 * s.n_docs + 2
         |      AND l.pm_den = 2 * s.df_$i + 1) AS idf_$i""".stripMargin)
      .mkString(",\n      |  ")
    val hits = gateTerms.indices.map(i =>
      s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE d AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(text, ' +'), w -> w != '') AS toks
       |  FROM documents),
       |t AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl,
       |    $tfs
       |  FROM d),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl, $dfs FROM t),
       |bp AS ($idfPairs),
       |${graft.functions.PortableMath
          .sqlLog2MicroCtes("bp", "rn", "rd", "blg")},
       |idf AS (SELECT
       |  $idfCols
       |  FROM s),
       |sc AS (SELECT doc_id, CAST($hits AS BIGINT) AS n_terms_hit,
       |    $contribs AS score_micro
       |  FROM t, s, idf),
       |lex AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT)
       |      AS rank_lex
       |  FROM sc WHERE n_terms_hit > 0
       |  ORDER BY score_micro DESC, doc_id LIMIT 50),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT v FROM e WHERE vec_id = 0),
       |sem AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
       |      AS rank_sem
       |  FROM (SELECT e.vec_id AS doc_id,
       |      round(list_cosine_similarity(e.v, qv.v), 6) AS cos
       |    FROM e, qv)
       |  ORDER BY cos DESC, doc_id LIMIT 50),
       |fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(1.0 / (60 + rank_lex), 0.0) +
       |      coalesce(1.0 / (60 + rank_sem), 0.0) AS rrf,
       |    rank_lex, rank_sem
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, rrf, rank_lex, rank_sem,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Retrieval-quality metrics — the EVALUATION half of the retrieval
    * stack (recall@k, MRR@k, nDCG@k per query): every retriever change
    * at corpus scale is judged by exactly these numbers. Queries are
    * the 8 ANN probe vectors, the ranked lists their round-6 cosine
    * top-10 (self excluded), and the relevance labels are derived, not
    * synthetic: a retrieved doc is relevant iff it shares the query
    * doc's `lang` (a deterministic qrels set any engine can replay).
    *
    * Float determinism: per-hit DCG gains 1/log2(pos+1) quantize to
    * NANO-units (long) before summing — a double sum is
    * partition-order-dependent, an integer sum is exact (the LmOps
    * contract); IDCG likewise; the final divisions and rounds are
    * single deterministic ops. MRR is one reciprocal of a small int.
    *
    * 100 TB shape: ranked lists come from the separately-gated ANN
    * serving paths; metric aggregation touches queries × k rows. */
  def retrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.CosineSimilarity.cosineNative
    val k = 10
    val emb = load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val lang = load(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ranked = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        round(cosineNative(col("embedding"), col("qv")), 6).as("cos"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("pos") <= k)
    // binary relevance: retrieved doc shares the query doc's lang
    val rel = ranked
      .join(lang.select(col("doc_id").as("qid"), col("lang").as("qlang")),
        "qid")
      .join(lang, "doc_id")
      .withColumn("is_rel", (col("lang") === col("qlang")).cast("int"))
    val nRel = lang.select(col("doc_id").as("qid"), col("lang").as("qlang"))
      .filter(col("qid") < 8)
      .join(lang.withColumnRenamed("lang", "qlang"), Seq("qlang"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid").agg(count(lit(1)).as("n_rel"))
    // nano-unit DCG gains as LITERALS from the portable log2 (the libm
    // log2 + round(,0) form had quantization boundaries; the sf0.1-sweep
    // class) — gainsNano(pos-1) = 1e9·2^20 DIV log2Micro(pos+1), burned
    // in by the Scala twin, which PortableMathSpec pins bit-identical to
    // the column form; the oracle embeds the same integers as VALUES
    val gainsNano: Seq[Long] = (1 to k).map(pos =>
      1048576000000000L /
        graft.functions.PortableMath.log2MicroConst(pos + 1L, 1L))
    val gainArr = array(gainsNano.map(lit): _*)
    val gain = element_at(gainArr, col("pos").cast("int"))
    val perQ = rel.groupBy("qid").agg(
      sum(col("is_rel")).as("n_hit"),
      sum(when(col("is_rel") === 1, gain).otherwise(lit(0L)))
        .as("dcg_nano"),
      min(when(col("is_rel") === 1, col("pos"))).as("first_rel"))
    import graft.functions.PortableMath.longDiv
    perQ.join(nRel, Seq("qid"))
      .select(col("qid"),
        col("n_rel"),
        col("n_hit").cast("long").as("n_hit"),
        // exact integer ppm outputs — small-int rationals rounded to 6
        // hit terminating-decimal ties the engines resolve apart
        longDiv(col("n_hit") * lit(1000000L), col("n_rel"))
          .as("recall_ppm"),
        coalesce(longDiv(lit(1000000L), col("first_rel")), lit(0L))
          .as("mrr_ppm"),
        longDiv(col("dcg_nano") * lit(1000000L),
          // IDCG: all min(n_rel, k) ideal hits at the top positions —
          // an arithmetic fold over the same literal gains, exact longs
          aggregate(sequence(lit(1),
              least(col("n_rel"), lit(k.toLong)).cast("int")),
            lit(0L), (acc, i) => acc + element_at(gainArr, i)))
          .as("ndcg_ppm"))
      .orderBy("qid")
  }

  /** The same portable-log2 gain integers the Spark side burns in. */
  private val retrievalGainsSql: String = (1 to 10).map(pos =>
    s"($pos, ${1048576000000000L /
      graft.functions.PortableMath.log2MicroConst(pos + 1L, 1L)})")
    .mkString(", ")

  private val retrievalMetricsOracle: String =
    s"""WITH gains AS (SELECT * FROM (VALUES $retrievalGainsSql)
      |  AS t(pos, g)),
      |""".stripMargin +
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
      |ranked AS (SELECT qid, doc_id, pos FROM (
      |    SELECT q.qid, e.vec_id AS doc_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        round(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id)
      |        AS pos
      |    FROM e, q WHERE e.vec_id != q.qid) t
      |  WHERE pos <= 10),
      |lang AS (SELECT doc_id, lang FROM documents),
      |rel AS (SELECT r.qid, r.doc_id, r.pos,
      |    CASE WHEN dl.lang = ql.lang THEN 1 ELSE 0 END AS is_rel
      |  FROM ranked r
      |  JOIN lang ql ON ql.doc_id = r.qid
      |  JOIN lang dl ON dl.doc_id = r.doc_id),
      |nrel AS (SELECT ql.doc_id AS qid, CAST(count(*) AS BIGINT) AS n_rel
      |  FROM lang ql JOIN lang dl ON dl.lang = ql.lang
      |    AND dl.doc_id != ql.doc_id
      |  WHERE ql.doc_id < 8 GROUP BY ql.doc_id),
      |perq AS (SELECT qid,
      |    CAST(sum(is_rel) AS BIGINT) AS n_hit,
      |    CAST(sum(CASE WHEN is_rel = 1 THEN gn.g ELSE 0 END)
      |      AS BIGINT) AS dcg_nano,
      |    min(CASE WHEN is_rel = 1 THEN rel.pos END) AS first_rel
      |  FROM rel JOIN gains gn ON gn.pos = rel.pos GROUP BY qid),
      |icum AS (SELECT m.pos AS m, CAST(sum(h.g) AS BIGINT) AS inano
      |  FROM gains m JOIN gains h ON h.pos <= m.pos GROUP BY m.pos),
      |idcg AS (SELECT p.qid, ic.inano
      |  FROM perq p JOIN nrel n USING (qid)
      |  JOIN icum ic ON ic.m = least(n.n_rel, 10))
      |SELECT p.qid, n.n_rel, p.n_hit,
      |  (p.n_hit * 1000000) // n.n_rel AS recall_ppm,
      |  coalesce(1000000 // CAST(p.first_rel AS BIGINT), 0) AS mrr_ppm,
      |  (p.dcg_nano * 1000000) // i.inano AS ndcg_ppm
      |FROM perq p JOIN nrel n USING (qid) JOIN idcg i USING (qid)
      |ORDER BY p.qid""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_retrieval_metrics", retrievalMetrics,
      Some(retrievalMetricsOracle), "search/retrieval-eval-metrics"),
    QuerySpec("q_search_hybrid_rrf", hybridSearch,
      Some(hybridSearchOracle), "search/hybrid-rrf-fusion"),
    QuerySpec("q_search_bm25", searchBm25,
      Some(searchBm25Oracle), "search/bm25-topk"),
    QuerySpec("q_search_tfidf", searchTfidf,
      Some(searchTfidfOracle), "search/tfidf-cosine-topk"),
    QuerySpec("q_inverted_index", invertedIndex,
      Some(invertedIndexOracle), "search/inverted-index-build"),
  )
}
