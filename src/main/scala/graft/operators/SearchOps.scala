package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.DotProductF32.{dot, oDot}

/** Hybrid retrieval (SURVEY §2.11) — the RAG-serving query shape: a
  * lexical retriever and a dense retriever each produce a TRUNCATED
  * top-K list, and reciprocal-rank fusion (RRF, Cormack et al.) merges
  * them. Fusion over truncated lists is the practical production form —
  * and the scale-correct one: each retriever ends in a global top-K
  * (TakeOrdered — k-bounded, map-side partial heaps, never a global
  * sort/window over the corpus), and every post-truncation step touches
  * ≤ 2K rows, so the only unpartitioned windows in the plan are
  * K-row-sized by construction.
  *
  * Everything is exact integer arithmetic so the key is hash-oracle-able:
  * lexical score = Σ_{w ∈ q∩d} idf_w with idf_w = (10⁶·N) div df_w (the
  * log-free monotone IDF used by text_tfidf_top — same ranking order,
  * no libm), and RRF contribution = 10⁶ div (60 + rank) (k₀ = 60 per
  * the original paper). The dense side reuses the codegen'd
  * [[graft.functions.DotProductF32]] 1×N broadcast pattern of
  * knn_cosine; its float cosine is round6'd ONLY for the output column,
  * while ranking compares the exact double (unique (score, id)
  * tie-break makes the rank deterministic either way).
  */
object SearchOps {
  private val K = 50      // per-retriever candidate list length
  private val RrfK0 = 60  // RRF dampening constant (Cormack et al.)

  val queries: Map[String, QFn] = Map(
    // BM25 ranking (Robertson et al.) — the lexical retriever upgraded
    // from search_rrf_hybrid's flat IDF to the production scorer: tf
    // saturation (k1) and document-length normalization (b). Query =
    // document 0's token set, results exclude doc 0. ALL-INTEGER so the
    // key is hash-oracle-able: k1 = 1.2 / b = 0.75 enter as the scaled
    // pairs (1200, 750, scale 1000); dl/avgdl is the EXACT rational
    // dl·N div Σdl (never a double average); idf = (10⁶·N) div df (the
    // log-free monotone IDF of text_tfidf_top — same ranking order, no
    // libm); term score = (idf·tf·2200) div (1000·tf + (1200·norm)
    // div 1000), norm = 250 + (750·dl·N) div Σdl. Plan shape: the tf
    // postings are built once and pinned (referenced by df, dl, the
    // query row, and the scoring join); idf and the query tokens are
    // vocabulary-/query-sized broadcasts; the per-doc norm attaches by
    // keyed equi-join (corpus-count-sized — NEVER broadcast at 100 TB);
    // the final top-20 is a TakeOrdered, not a global sort. Overflow
    // headroom: the largest intermediate is idf·tf·2200 with worst-case
    // idf = 10⁶·N (df = 1), so the BIGINT bound is N·tf ≤ ~4.2·10⁹ —
    // N ≈ 10⁶ docs at tf ≤ 4k. Past that, drop idf's 10⁶ scale to 10³
    // (buys 10³× N) or widen the term expression to DECIMAL(38,0).
    "search_bm25" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val tf = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .pinned
      val dl = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl")).pinned
      val ns = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("sdl"))
      val idf = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(ns))
        .select(col("w"), expr("(1000000 * nd) div df").as("idf"))
      val qtok = tf.where(col("doc_id") === 0).select(col("w").as("qw"))
      val nrm = dl.crossJoin(broadcast(ns))
        .select(col("doc_id"),
          expr("250 + (750 * dl * nd) div sdl").as("norm"))
      tf.where(col("doc_id") =!= 0)
        .join(broadcast(qtok), col("w") === col("qw"))
        .join(broadcast(idf), "w")
        .join(nrm, "doc_id")
        .groupBy(col("doc_id"))
        .agg(sum(expr(
          "(idf * tf * 2200) div (1000 * tf + (1200 * norm) div 1000)"))
          .as("bm25"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    }),

    // Query = document 0 (its text for the lexical side, its embedding
    // for the dense side); results exclude the query doc itself.
    "search_rrf_hybrid" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      // distinct (doc, token) postings — corpus-sized, one shuffle
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w")).distinct()
      // vocabulary-sized idf dim: (10^6 * N) div df — broadcast
      val n = docs.agg(count(lit(1)).as("nd"))
      val idf = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("w"), expr("(1000000 * nd) div df").as("idf"))
      // query token set — one row's tokens, broadcast
      val qtok = tok.where(col("doc_id") === 0)
        .select(col("w").as("qw")).distinct()
      val lexTop = tok.where(col("doc_id") =!= 0)
        .join(broadcast(qtok), col("w") === col("qw"))
        .join(broadcast(idf), "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("idf")).as("lex_score"))
        .orderBy(col("lex_score").desc, col("doc_id")).limit(K)
        .withColumn("rank_lex",
          row_number().over(Window.orderBy(col("lex_score").desc,
            col("doc_id"))))
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val denseTop = emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          dot(col("embedding"), col("qe")).as("cosx"))
        .orderBy(col("cosx").desc, col("doc_id")).limit(K)
        .withColumn("rank_dense",
          row_number().over(Window.orderBy(col("cosx").desc,
            col("doc_id"))))
      lexTop.join(denseTop, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr(s"1000000 div ($RrfK0 + rank_lex)"), lit(0L)) +
            coalesce(expr(s"1000000 div ($RrfK0 + rank_dense)"), lit(0L)))
            .as("rrf"),
          col("rank_lex"), col("rank_dense"),
          coalesce(col("lex_score"), lit(0L)).as("lex_score"),
          round6(coalesce(col("cosx"), lit(0.0))).as("cos"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }))

  val oracle: Map[String, String] = Map(
    "search_bm25" ->
      ("WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) GROUP BY doc_id, w), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl " +
        "FROM tf GROUP BY doc_id), " +
        "ns AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS sdl " +
        "FROM dl), " +
        "idf AS (SELECT w, (1000000 * nd) // count(*) AS idf " +
        "FROM tf, ns GROUP BY w, nd), " +
        "qt AS (SELECT DISTINCT w FROM tf WHERE doc_id = 0), " +
        "nrm AS (SELECT doc_id, 250 + (750 * dl * nd) // sdl AS norm " +
        "FROM dl, ns) " +
        "SELECT tf.doc_id AS doc_id, CAST(sum((idf * tf * 2200) // " +
        "(1000 * tf + (1200 * norm) // 1000)) AS BIGINT) AS bm25, " +
        "count(*) AS n_terms " +
        "FROM tf JOIN qt USING (w) JOIN idf USING (w) " +
        "JOIN nrm ON tf.doc_id = nrm.doc_id WHERE tf.doc_id <> 0 " +
        "GROUP BY tf.doc_id ORDER BY bm25 DESC, tf.doc_id LIMIT 20"),
    "search_rrf_hybrid" ->
      ("WITH tok AS (SELECT DISTINCT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM documents), " +
        "n AS (SELECT count(*) AS nd FROM documents), " +
        "idf AS (SELECT w, (1000000 * nd) // count(*) AS idf " +
        "FROM tok, n GROUP BY w, nd), " +
        "qt AS (SELECT DISTINCT w FROM tok WHERE doc_id = 0), " +
        // DuckDB widens sum(BIGINT) to HUGEINT; pin to BIGINT so the
        // type hash matches the engine's LongType lex_score.
        "lex AS (SELECT doc_id, CAST(sum(idf) AS BIGINT) AS lex_score " +
        "FROM tok " +
        "JOIN qt USING (w) JOIN idf USING (w) WHERE doc_id <> 0 " +
        s"GROUP BY doc_id ORDER BY lex_score DESC, doc_id LIMIT $K), " +
        "lexr AS (SELECT doc_id, lex_score, row_number() OVER " +
        "(ORDER BY lex_score DESC, doc_id) AS rank_lex FROM lex), " +
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "dn AS (SELECT vec_id AS doc_id, " +
        oDot("embedding", "qe") + " AS cosx " +
        "FROM embeddings, q WHERE vec_id <> 0 " +
        s"ORDER BY cosx DESC, doc_id LIMIT $K), " +
        "dnr AS (SELECT doc_id, cosx, row_number() OVER " +
        "(ORDER BY cosx DESC, doc_id) AS rank_dense FROM dn) " +
        "SELECT doc_id, " +
        s"CAST(coalesce(1000000 // ($RrfK0 + rank_lex), 0) + " +
        s"coalesce(1000000 // ($RrfK0 + rank_dense), 0) AS BIGINT) AS rrf, " +
        "CAST(rank_lex AS INTEGER) AS rank_lex, " +
        "CAST(rank_dense AS INTEGER) AS rank_dense, " +
        "coalesce(lex_score, 0) AS lex_score, " +
        oRound6("coalesce(cosx, 0.0)") + " AS cos " +
        "FROM lexr FULL JOIN dnr USING (doc_id) " +
        "ORDER BY rrf DESC, doc_id LIMIT 10"))
}
