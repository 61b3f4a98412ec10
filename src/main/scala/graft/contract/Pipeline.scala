package graft
package contract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.streaming.EventStream
import QueryLib._

/** The training-data pipeline lanes (p): dedup, filtering, tokenizing,
  * similarity search and text statistics, each with its DuckDB oracle. */
object Pipeline {
  /** DuckDB expression for the quality score (parity verified value-exact
    * against the Spark formula). Requires a `ws` word-list column. */
  private def qualitySql: String = {
    val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "was", "it", "for", "on", "with", "as", "at", "by")
      .map(s => s"'$s'").mkString(", ")
    s"""round(
       | least(length(text) / 1000.0, 1.0) * 0.3 +
       | least(CAST(len(list_distinct(list_intersect(ws, [$stops]))) AS DOUBLE)
       |   / greatest(CAST(len(ws) AS DOUBLE), 1.0) * 3, 1.0) * 0.3 +
       | (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
       |   / greatest(CAST(length(text) AS DOUBLE), 1.0) * 5, 1.0)) * 0.2 +
       | least(list_reduce(list_prepend(0.0, list_transform(ws, w -> CAST(len(w) AS DOUBLE))), (a,x) -> a + x)
       |   / greatest(CAST(len(ws) AS DOUBLE), 1.0) / 8.0, 1.0) * 0.2, 6)""".stripMargin
  }

  private def langIdSql: String = {
    val scoreSql = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val inList = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(ws, w -> list_contains([$inList], w))) AS s_$lang"
    }.mkString(", ")
    val folded = TextAnalysis.langMarkers.map(_._1).drop(1)
      .foldLeft(s"struct_pack(score := s_${TextAnalysis.langMarkers.head._1}, l := '${TextAnalysis.langMarkers.head._1}')") {
        case (acc, lang) =>
          s"CASE WHEN s_$lang > ($acc).score THEN struct_pack(score := s_$lang, l := '$lang') ELSE $acc END"
      }
    s"$scoreSql|$folded" // packed; split on '|' by callers
  }

  /** DuckDB emulation of [[graft.pipeline.Dedup]]'s FNV-1a 64 word hash:
    * the mod-2^64 xor/multiply fold runs in HUGEINT arithmetic (validated
    * bit-exact against the Scala kernel). `w` is the column holding the
    * word/shingle string. */
  private def fnv64Sql(w: String): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |   list_transform(range(1, len($w)+1), i -> CAST(ord($w[i]) AS HUGEINT))),
       | (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616)""".stripMargin

  /** The deterministic hyperplanes as SQL double literals (Double.toString
    * round-trips through DuckDB's decimal parser), so the oracle computes
    * the same sign-bit bucket as [[graft.pipeline.Similarity]]. */
  private def bucketSql(planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  val lanes: Seq[Lane] = Seq(
    Lane("p01_dedup_exact", (s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text"),
      "SELECT min(doc_id) AS rep_id, count(*) AS n_copies FROM documents GROUP BY text"),
    Lane("p22_chunk_dedup", (s, dir) =>
      Dedup.chunkDedup(tbl(s, dir, "documents"), "doc_id", "text", 8),
      // chunk-level first-occurrence dedup re-derived: same 8-word windows,
      // same (doc_id, chunk_idx) global order
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |  array_to_string(w[(CAST(i AS BIGINT)*8+1):(CAST(i AS BIGINT)*8+8)], ' ') AS chunk
        |  FROM d, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)),
        |r AS (SELECT doc_id, chunk,
        |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS total_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks
        |FROM r GROUP BY doc_id""".stripMargin),
    Lane("p23_pii_scrub", (s, dir) => {
      // the corpus has no real PII, so deterministic fake PII is
      // synthesized from doc_id (email, IPv4, 16-digit card, US phone) and
      // the scrub chain must redact all of it — the oracle replays both
      // the synthesis and the regex chain
      val dirty = tbl(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@ex"), col("doc_id") % 7, lit(".org or 10.0."),
          col("doc_id") % 256, lit("."), (col("doc_id") * 3) % 256,
          lit(" card 411111111111"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" tel +1 (555) 123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("dirty"))
      dirty.select(col("doc_id"),
        TextAnalysis.piiScrub(col("dirty")).as("clean"))
    },
      {
        // generate the regexp_replace chain from the SAME pattern table the
        // kernel folds over — order and pattern text provably identical
        val scrubbed = graft.pipeline.TextAnalysis.piiPatterns
          .foldLeft("dirty") { case (acc, (pat, repl)) =>
            s"regexp_replace($acc, '$pat', '$repl', 'g')"
          }
        s"""WITH dirty AS (SELECT doc_id,
           | text || ' contact user' || doc_id || '@ex' || (doc_id % 7)
           |  || '.org or 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
           |  || ' card 411111111111' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
           |  || ' tel +1 (555) 123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
           |  AS dirty
           | FROM documents)
           |SELECT doc_id, $scrubbed AS clean FROM dirty""".stripMargin
      }),
    Lane("p24_tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(tbl(s, dir, "documents"), "doc_id", "text", 5),
      """WITH w AS (SELECT doc_id,
        | unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   x -> len(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, tf, df,
        |  round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfx USING (term), n),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 5""".stripMargin),
    Lane("p25_seq_pack", (s, dir) =>
      Packing.packSequences(tbl(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), 512),
      // exclusive-prefix cumsum over the id-ordered token stream, windows
      // of 512; DuckDB widens SUM(BIGINT) to HUGEINT → explicit casts
      """WITH t AS (SELECT doc_id,
        | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        | CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        | FROM t)
        |SELECT doc_id, n_tokens, tok_start,
        | tok_start // 512 AS first_seq,
        | CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
        |  ELSE tok_start // 512 END AS last_seq,
        | CASE WHEN n_tokens > 0
        |  THEN (tok_start + n_tokens - 1) // 512 - tok_start // 512 + 1
        |  ELSE CAST(0 AS BIGINT) END AS n_seqs
        |FROM c""".stripMargin),
    Lane("p26_stratified_sample", (s, dir) =>
      Sampling.stratifiedBalance(tbl(s, dir, "documents"), "lang", "text")
        .select(col("doc_id"), col("lang")),
      // per-stratum 2^32 hash cut re-derived from the counts; the smallest
      // stratum (rate 1.0, 9-hex-digit cut) keeps every row explicitly
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |thr AS (SELECT lang, cnt, mn,
        |  lpad(lower(hex(CAST(floor(CAST(mn AS DOUBLE) / cnt * 4294967296.0)
        |    AS BIGINT))), 8, '0') AS t
        | FROM c, m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE thr.cnt = thr.mn OR substr(md5(d.text), 1, 8) < thr.t""".stripMargin),
    Lane("p27_trigram_familiarity", (s, dir) =>
      TextAnalysis.trigramFamiliarity(tbl(s, dir, "documents"),
        "doc_id", "text", 5),
      // char trigrams of lower(text); familiarity = fraction occurring
      // >= 5 times corpus-wide — integer counts + one IEEE division only
      """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |   range(1, CASE WHEN length(lt) >= 3 THEN length(lt) - 1 ELSE 1 END),
        |   i -> substr(lt, CAST(i AS INTEGER), 3))) AS tg
        | FROM t),
        |dfx AS (SELECT tg, count(*) AS c FROM g GROUP BY 1),
        |j AS (SELECT doc_id, CASE WHEN c >= 5 THEN 1 ELSE 0 END AS common
        | FROM g JOIN dfx USING (tg))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        | CAST(sum(common) AS BIGINT) AS n_common,
        | round(CAST(sum(common) AS DOUBLE) / count(*), 6) AS familiarity
        |FROM j GROUP BY 1""".stripMargin),
    Lane("p29_gopher_quality", (s, dir) =>
      TextAnalysis.gopherQuality(tbl(s, dir, "documents"), "doc_id", "text"),
      // Gopher-style shape statistics: integer counts + single divisions,
      // gate evaluated on the ROUNDED values in both engines
      """WITH t AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   w -> len(w) > 0) AS ws,
        | lower(text) AS lt
        | FROM documents),
        |s AS (SELECT doc_id,
        | CAST(len(ws) AS BIGINT) AS n_words,
        | CASE WHEN len(ws) > 0 THEN round(CAST(list_sum(list_transform(ws,
        |   w -> CAST(len(w) AS BIGINT))) AS DOUBLE) / len(ws), 6) END AS mean_word_len,
        | CASE WHEN len(ws) > 0 THEN round(CAST(len(list_distinct(ws)) AS DOUBLE)
        |   / len(ws), 6) END AS frac_unique,
        | CASE WHEN length(lt) > 0 THEN round(
        |   CAST(length(regexp_replace(lt, '[a-z0-9\s]', '', 'g')) AS DOUBLE)
        |   / length(lt), 6) END AS symbol_frac
        | FROM t)
        |SELECT doc_id, n_words, mean_word_len, frac_unique, symbol_frac,
        | (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND frac_unique >= 0.2) AS passes
        |FROM s""".stripMargin),
    Lane("p28_pca_norm", (s, dir) => {
      // full-rank PCA projection preserves centered squared norms
      // (orthonormal W): the oracle re-derives ||x − μ||² directly in
      // SQL, pinning the distributed Gram pass + Jacobi eigensolver
      val e = tbl(s, dir, "embeddings")
      val m = Pca.fit(e, "embedding", 64)
      Pca.project(e, "embedding", m, "p")
        .select(col("vec_id"),
          round(aggregate(col("p"), lit(0.0), (a, x) => a + x * x), 3)
            .as("norm2"))
    },
      // centered squared norm per vector — what an orthonormal full-rank
      // projection must preserve (to Jacobi orthogonality error ~1e-13,
      // absorbed by the 3-decimal rounding)
      """WITH comp AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
        |mu AS (SELECT i, avg(v) AS m FROM comp GROUP BY 1),
        |cn AS (SELECT vec_id, sum((v - m) * (v - m)) AS n2
        | FROM comp JOIN mu USING (i) GROUP BY 1)
        |SELECT vec_id, round(n2, 3) AS norm2 FROM cn""".stripMargin),
    Lane("p02_token_count", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe")),
      """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        | ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin),
    Lane("p03_quality", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      s"""WITH t AS (SELECT doc_id, text,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         | FROM documents)
         |SELECT doc_id, $qualitySql AS quality FROM t""".stripMargin),
    Lane("p04_langid", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess")),
      {
        // argmax with 'later wins on >' exactly like the Spark fold
        val scoreSql = TextAnalysis.langMarkers.map { case (lang, markers) =>
          val inList = markers.map(m => s"'$m'").mkString(", ")
          s"len(list_filter(ws, w -> list_contains([$inList], w))) AS s_$lang"
        }.mkString(", ")
        val folded = TextAnalysis.langMarkers.map(_._1).drop(1)
          .foldLeft(s"struct_pack(score := s_${TextAnalysis.langMarkers.head._1}, l := '${TextAnalysis.langMarkers.head._1}')") {
            case (acc, lang) =>
              s"CASE WHEN s_$lang > ($acc).score THEN struct_pack(score := s_$lang, l := '$lang') ELSE $acc END"
          }
        s"""WITH t AS (SELECT doc_id,
           | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
           | FROM documents),
           |scored AS (SELECT doc_id, $scoreSql FROM t)
           |SELECT doc_id, ($folded).l AS lang_guess FROM scored""".stripMargin
      }),
    Lane("p05_fingerprint", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      """SELECT doc_id, list_reduce(
        | list_prepend(CAST(0 AS BIGINT), list_transform(
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0),
        |  w -> CAST(len(w) * 7 + ord(w[1]) AS BIGINT))),
        | (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
        |FROM documents""".stripMargin),
    Lane("p06_ngram_jaccard", (s, dir) => QueryLib.jaccardPairFrame(s, dir),
      """WITH d AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        | FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 1) + 1),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |  / greatest(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) > 0""".stripMargin),
    Lane("p18_deterministic_sample", (s, dir) =>
      Sampling.deterministicSample(tbl(s, dir, "documents"), "text", 0.25)
        .select(col("doc_id")),
      s"""SELECT doc_id FROM documents
         |WHERE substr(md5(text), 1, 8) < '${graft.pipeline.Sampling.thresholdHex(0.25)}'""".stripMargin),
    Lane("p19_repetition", (s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("rep", TextAnalysis.repetitionStats(col("text"), 2, 5))
        .select(col("doc_id"),
          round(element_at(col("rep"), 1), 6).as("top2_frac"),
          round(element_at(col("rep"), 2), 6).as("dup5_frac")),
      // Gopher-style repetition filters: top-bigram char fraction and
      // duplicate-5-gram char fraction over the normalized word join
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |base AS (SELECT doc_id, ws, len(array_to_string(ws, ' ')) AS total FROM t),
        |g2c AS (SELECT doc_id, g, count(*) AS c, any_value(total) AS total FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS g, total FROM base) GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, c * len(g)::DOUBLE / total AS frac,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM g2c),
        |g5c AS (SELECT doc_id, g, count(*) AS c, any_value(total) AS total FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
        |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) AS g, total
        |  FROM base WHERE len(ws) >= 5) GROUP BY doc_id, g),
        |dup5 AS (SELECT doc_id,
        |  SUM(CASE WHEN c > 1 THEN c * len(g) ELSE 0 END)::DOUBLE / any_value(total) AS frac
        |  FROM g5c GROUP BY doc_id)
        |SELECT b.doc_id, round(coalesce(t2.frac, 0), 6) AS top2_frac,
        |  round(coalesce(d5.frac, 0), 6) AS dup5_frac
        |FROM base b
        |LEFT JOIN (SELECT doc_id, frac FROM top2 WHERE rn = 1) t2 ON b.doc_id = t2.doc_id
        |LEFT JOIN dup5 d5 ON b.doc_id = d5.doc_id""".stripMargin),
    Lane("p20_decontaminate", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Decontaminate.overlap(docs, docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", 13)
    },
      {
        // 13-gram overlap with the doc_id % 97 == 0 eval slice (GPT-3-style
        // decontamination); short docs collapse to their single whole-text
        // shingle, exactly like Dedup.shingles
        val gram13 = (0 until 13).map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
        s"""WITH t AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
           |  FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |  range(1, greatest(len(ws) - 12, 1) + 1), i -> $gram13))) AS gram FROM t),
           |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
           |sh AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
           |  FROM g JOIN ev USING (gram) GROUP BY 1)
           |SELECT t.doc_id, coalesce(sh.n_shared, 0) AS n_shared,
           |  coalesce(sh.n_shared, 0) > 0 AS contaminated
           |FROM t LEFT JOIN sh ON t.doc_id = sh.doc_id""".stripMargin
      }),
    Lane("p48_decontaminate_bloom", (s, dir) => {
      // Bloom-prefiltered decontamination: corpus n-grams are gated
      // map-side by a broadcast sketch of the eval grams, the exact
      // verify join removes the fpp sliver — bit-identical to p20's
      // exact path, but the corpus side never shuffles wholesale when
      // the eval set outgrows a string broadcast
      val docs = tbl(s, dir, "documents")
      Decontaminate.overlapBloom(docs,
        docs.filter(col("doc_id") % 61 === 1), "doc_id", "text", 13, 0.01)
    },
      {
        // identical semantics to p20 (the Bloom gate never changes the
        // answer), over the doc_id % 61 == 1 eval slice
        val gram13 = (0 until 13).map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
        s"""WITH t AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
           |  FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |  range(1, greatest(len(ws) - 12, 1) + 1), i -> $gram13))) AS gram FROM t),
           |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 61 = 1),
           |sh AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
           |  FROM g JOIN ev USING (gram) GROUP BY 1)
           |SELECT t.doc_id, coalesce(sh.n_shared, 0) AS n_shared,
           |  coalesce(sh.n_shared, 0) > 0 AS contaminated
           |FROM t LEFT JOIN sh ON t.doc_id = sh.doc_id""".stripMargin
      }),
    Lane("p49_stream_decontaminate", (s, dir) => {
      // ingest-time decontamination as a REAL streaming plan: parquet
      // file-stream source → broadcast-exact-set stateless flag →
      // memory sink, run to completion with AvailableNow. The eval set
      // (doc_id % 89 == 0 slice) is static; the per-row check is
      // map-only, so append mode needs no watermark and the drained
      // result equals batch Decontaminate.overlap bit-for-bit
      val docs = tbl(s, dir, "documents")
      graft.streaming.StreamDecontaminate.runAvailableNow(s,
        dir + "/documents.parquet", docs.schema, "doc_id", "text", 13,
        docs.filter(col("doc_id") % 89 === 0))
    },
      {
        // identical semantics to p20 (the streaming flag counts the same
        // distinct shared grams), over the doc_id % 89 == 0 eval slice
        val gram13 = (0 until 13).map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
        s"""WITH t AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
           |  FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |  range(1, greatest(len(ws) - 12, 1) + 1), i -> $gram13))) AS gram FROM t),
           |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0),
           |sh AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
           |  FROM g JOIN ev USING (gram) GROUP BY 1)
           |SELECT t.doc_id, coalesce(sh.n_shared, 0) AS n_shared,
           |  coalesce(sh.n_shared, 0) > 0 AS contaminated
           |FROM t LEFT JOIN sh ON t.doc_id = sh.doc_id""".stripMargin
      }),
    Lane("p40_near_dedup_keep", (s, dir) => {
      // composed near-dedup keep-list: the transitive duplicate clusters
      // (p16's machinery) drive an anti-join — every cluster member that
      // is not its cluster's representative is dropped from the corpus
      val docs = tbl(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(QueryLib.jaccardPairFrame(s, dir))
      val drop = clusters.filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti").select(col("doc_id"))
    },
      // p16's recursive closure + anti-join: keep representatives and
      // everything outside any cluster
      """WITH RECURSIVE d AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        | FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 1) + 1),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s FROM d),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE len(list_intersect(a.s, b.s)) > 0),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, rep) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT e.src, w.rep FROM edges e JOIN walk w ON w.id = e.dst),
        |clusters AS (SELECT id AS doc_id, min(rep) AS rep_id FROM walk GROUP BY 1)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> rep_id)""".stripMargin),
    Lane("p41_line_boilerplate", (s, dir) =>
      // CCNet line-level boilerplate removal: lines shared by >= 2
      // distinct documents drop, documents reassemble from survivors
      // (exact-dup documents empty out — visible in clean_text)
      Lines.dropBoilerplate(tbl(s, dir, "documents"), "doc_id", "text", 2),
      """WITH lines AS (
        |  SELECT doc_id, unnest(range(1, len(parts) + 1)) AS pos,
        |         unnest(parts) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
        |        FROM documents)),
        |counts AS (
        |  SELECT line, count(DISTINCT doc_id) AS ndocs
        |  FROM lines GROUP BY line),
        |m AS (SELECT l.doc_id, l.pos, l.line, c.ndocs
        |      FROM lines l JOIN counts c USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN ndocs < 2 THEN line END,
        |    chr(10) ORDER BY pos), '') AS clean_text,
        |  count(CASE WHEN ndocs < 2 THEN 1 END) AS n_kept,
        |  count(CASE WHEN ndocs >= 2 THEN 1 END) AS n_removed
        |FROM m GROUP BY doc_id""".stripMargin),
    Lane("p42_window_dedup", (s, dir) =>
      // exact-substring duplication stats (Lee et al. 2022): 40-char
      // windows at stride 1, global first-occurrence ownership, merged
      // duplicated-span coverage per document
      Lines.windowDupStats(tbl(s, dir, "documents"), "doc_id", "text", 40, 1),
      """WITH w AS (
        |  SELECT doc_id, p AS pos, md5(substr(text, p + 1, 40)) AS h
        |  FROM documents,
        |       unnest(range(0, greatest(length(text) - 39, 0))) AS t(p)),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |      FROM w),
        |dup AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        |f AS (SELECT doc_id, pos,
        |        max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM dup),
        |i AS (SELECT doc_id, pos,
        |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |            THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM f),
        |s AS (SELECT doc_id, island, max(pos) + 40 - min(pos) AS len,
        |        count(*) AS nw
        |      FROM i GROUP BY doc_id, island),
        |pd AS (SELECT doc_id, sum(len) AS dup_chars, sum(nw) AS n_dup
        |       FROM s GROUP BY doc_id),
        |nw AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(nw.n_windows, 0) AS n_windows,
        |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(pd.dup_chars, 0) AS BIGINT) AS dup_chars
        |FROM documents d
        |LEFT JOIN nw USING (doc_id) LEFT JOIN pd USING (doc_id)""".stripMargin),
    Lane("p46_gif_frames", (s, dir) => {
      // multimodal video: one REAL 4-frame animated GIF per document
      // (indexed 256-gray palette = lossless), decoded back frame by
      // frame through ImageIO's sequence reader into integer stats
      implicit val sp: SparkSession = s
      Multimodal.videoFrameStats(Multimodal.syntheticGifTable(
        tbl(s, dir, "documents").select(col("doc_id"))))
    },
      """WITH g AS (SELECT doc_id, doc_id % 16 + 8 AS w, doc_id % 12 + 8 AS h
        |           FROM documents),
        |p AS (SELECT doc_id, w, h, f,
        |        sum((doc_id * 31 + x * 7 + y * 13 + f * 17) % 256) AS ps
        |      FROM g, unnest(range(0, 4)) AS tf(f),
        |           unnest(range(0, w)) AS tx(x),
        |           unnest(range(0, h)) AS ty(y)
        |      GROUP BY doc_id, w, h, f)
        |SELECT doc_id, CAST(f AS INT) AS frame, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(ps AS BIGINT) AS pix_sum,
        |  CAST(w * h AS BIGINT) AS n_pix
        |FROM p""".stripMargin),
    Lane("p45_wav_features", (s, dir) =>
      // multimodal audio: one REAL mono PCM-16 WAV payload per document
      // (deterministic position-indexed samples), decoded back through
      // the from-scratch RIFF codec into integer features
      Audio.wavFeatures(Audio.syntheticWavTable(
        tbl(s, dir, "documents").select(col("doc_id")), "doc_id", 160, 16000)),
      """WITH s AS (SELECT doc_id, unnest(range(0, 160)) AS i FROM documents),
        |v AS (SELECT doc_id,
        |        ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS smp
        |      FROM s)
        |SELECT doc_id, count(*) AS n_samples,
        |  CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(smp)) AS BIGINT) AS peak,
        |  CAST(count(*) * 1000 // 16000 AS BIGINT) AS duration_ms
        |FROM v GROUP BY doc_id""".stripMargin),
    Lane("p44_remove_dup_spans", (s, dir) =>
      // the cut completing Lee et al.'s loop: merged duplicated spans
      // (40-char windows, stride 1, first occurrence exempt) removed and
      // the survivors stitched back in order — exact text oracle
      Lines.removeDupSpans(tbl(s, dir, "documents"), "doc_id", "text", 40, 1),
      """WITH w AS (
        |  SELECT doc_id, p AS pos, md5(substr(text, p + 1, 40)) AS h
        |  FROM documents,
        |       unnest(range(0, greatest(length(text) - 39, 0))) AS t(p)),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |      FROM w),
        |dup AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        |f AS (SELECT doc_id, pos,
        |        max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM dup),
        |i AS (SELECT doc_id, pos,
        |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |            THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM f),
        |isl AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 40 AS e
        |        FROM i GROUP BY doc_id, island),
        |bef AS (SELECT doc_id,
        |          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
        |          s AS ge
        |        FROM isl),
        |tl AS (SELECT isl.doc_id, max(isl.e) AS gs,
        |         CAST(max(length(d.text)) AS BIGINT) AS ge
        |       FROM isl JOIN documents d USING (doc_id) GROUP BY isl.doc_id),
        |gaps AS (SELECT doc_id, gs, ge FROM bef
        |         UNION ALL SELECT doc_id, gs, ge FROM tl),
        |segs AS (SELECT g.doc_id, g.gs,
        |           substr(d.text, CAST(g.gs AS INT) + 1,
        |             CAST(g.ge - g.gs AS INT)) AS seg
        |         FROM gaps g JOIN documents d USING (doc_id)
        |         WHERE g.ge > g.gs),
        |st AS (SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS ct
        |       FROM segs GROUP BY doc_id),
        |hd AS (SELECT DISTINCT doc_id FROM isl)
        |SELECT d.doc_id,
        |  coalesce(st.ct,
        |    CASE WHEN hd.doc_id IS NOT NULL THEN '' ELSE d.text END)
        |    AS clean_text,
        |  CAST(length(d.text) - length(coalesce(st.ct,
        |    CASE WHEN hd.doc_id IS NOT NULL THEN '' ELSE d.text END))
        |    AS BIGINT) AS removed_chars
        |FROM documents d LEFT JOIN st USING (doc_id)
        |LEFT JOIN hd USING (doc_id)""".stripMargin),
    Lane("p43_source_cap", (s, dir) =>
      // FineWeb-style per-source cap: deterministic md5-order rank
      // within each source, cap 20 — kept is a flag, not a filter
      Sampling.sourceCap(tbl(s, dir, "documents"), "doc_id", "source", 20)
        .select(col("doc_id"), col("source"), col("src_rank"), col("kept")),
      """SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS src_rank,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20 AS kept
        |FROM documents""".stripMargin),
    Lane("p16_dup_clusters", (s, dir) =>
      Dedup.duplicateClusters(QueryLib.jaccardPairFrame(s, dir))
        .select(col("id").as("doc_id"), col("rep").as("rep_id")),
      // transitive closure of the >=0.5-Jaccard pairs via recursive CTE;
      // rep = min reachable id (the same fixpoint min-label propagation
      // computes distributively)
      """WITH RECURSIVE d AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        | FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 1) + 1),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s FROM d),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE len(list_intersect(a.s, b.s)) > 0),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, rep) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT e.src, w.rep FROM edges e JOIN walk w ON w.id = e.dst)
        |SELECT id AS doc_id, min(rep) AS rep_id FROM walk GROUP BY 1""".stripMargin),
    Lane("p07_minhash_lsh", (s, dir) =>
      Dedup.lshCandidatePairs(tbl(s, dir, "documents"), "doc_id", "text", 32, 8, 3),
      // full re-derivation of the MinHash+banding path: fnv64 shingle hash
      // mod 2^31-1, 32 affine min-hashes, 8 bands of 4 rows; candidate
      // pairs are docs sharing any band's slice (band-content equality ≡
      // the engine's xxhash64 band-bucket join, which is collision-free at
      // any realistic corpus size)
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   range(1, greatest(len(ws) - 2, 1) + 1),
         |   i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shs FROM t),
         |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
         |hsu AS (SELECT doc_id, ${fnv64Sql("s")} AS u FROM shx),
         |-- floorMod on the SIGNED 64-bit hash, mirroring the engine's
         |-- java.lang.Math.floorMod(fnv64(sh), P): 2^64 mod (2^31-1) = 4,
         |-- so folding the unsigned value would drift by 4 whenever the
         |-- hash's top bit is set
         |hs AS (SELECT doc_id, CAST(
         |  ((CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
         |     ELSE u END) % 2147483647 + 2147483647) % 2147483647
         |  AS BIGINT) AS h FROM hsu),
         |sig AS (SELECT doc_id, k.k, MIN(((2*k.k+1)*h + 31*k.k+7) % 2147483647) AS mh
         |  FROM hs, range(0,32) k(k) GROUP BY 1,2),
         |sigl AS (SELECT doc_id, list(mh ORDER BY k) AS sg FROM sig GROUP BY 1),
         |banded AS (SELECT doc_id, b.b, sg[b.b*4+1:b.b*4+4] AS sl FROM sigl, range(0,8) b(b))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id""".stripMargin),
    Lane("p47_stream_neardedup", (s, dir) => {
      // online LSH admission, batch replay (one micro-batch): a doc is
      // admitted iff it is the lowest doc_id in EVERY one of its band
      // buckets — the state functions that run on the ingest stream run
      // identically on the static frame
      implicit val sp: SparkSession = s
      graft.streaming.StreamNearDedup(tbl(s, dir, "documents"))
        .toDF().select(col("doc_id"), col("admitted"))
    },
      // the p07 signature/banding re-derivation, then: admitted = the
      // doc is the bucket MINIMUM in every band (band-content equality
      // ≡ the engine's xxhash64 buckets, collision-free at this scale)
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   range(1, greatest(len(ws) - 2, 1) + 1),
         |   i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shs FROM t),
         |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
         |hsu AS (SELECT doc_id, ${fnv64Sql("s")} AS u FROM shx),
         |hs AS (SELECT doc_id, CAST(
         |  ((CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
         |     ELSE u END) % 2147483647 + 2147483647) % 2147483647
         |  AS BIGINT) AS h FROM hsu),
         |sig AS (SELECT doc_id, k.k, MIN(((2*k.k+1)*h + 31*k.k+7) % 2147483647) AS mh
         |  FROM hs, range(0,32) k(k) GROUP BY 1,2),
         |sigl AS (SELECT doc_id, list(mh ORDER BY k) AS sg FROM sig GROUP BY 1),
         |banded AS (SELECT doc_id, b.b, sg[b.b*4+1:b.b*4+4] AS sl FROM sigl, range(0,8) b(b)),
         |wins AS (SELECT b, sl, MIN(doc_id) AS w FROM banded GROUP BY 1, 2)
         |SELECT banded.doc_id, bool_and(banded.doc_id = wins.w) AS admitted
         |FROM banded JOIN wins ON banded.b = wins.b AND banded.sl = wins.sl
         |GROUP BY 1""".stripMargin),
    Lane("p08_simhash", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Dedup.simhash(col("text")).as("sig")),
      // per-word fnv64, per-bit occurrence-weighted majority vote, signed
      // 64-bit reassembly — mirrors Dedup.simhash exactly
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |wd AS (SELECT doc_id, unnest(ws) AS w FROM t),
         |h AS (SELECT doc_id, ${fnv64Sql("w")} AS h FROM wd),
         |bits AS (SELECT doc_id, r.bit,
         |  SUM(CASE WHEN (h // (CAST(1 AS HUGEINT) << CAST(r.bit AS INTEGER))) % 2 = 1
         |    THEN 1 ELSE -1 END) AS s
         |  FROM h, range(0,64) r(bit) GROUP BY 1,2),
         |sig0 AS (SELECT doc_id AS sid,
         |  SUM(CASE WHEN s > 0 THEN (CAST(1 AS HUGEINT) << CAST(bit AS INTEGER))
         |    ELSE CAST(0 AS HUGEINT) END) AS u FROM bits GROUP BY 1)
         |SELECT t.doc_id, CAST(CASE WHEN coalesce(u, 0) >= 9223372036854775808
         |  THEN u - 18446744073709551616 ELSE coalesce(u, 0) END AS BIGINT) AS sig
         |FROM t LEFT JOIN sig0 ON t.doc_id = sig0.sid""".stripMargin),
    Lane("p09_embed_topk", (s, dir) =>
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", Seq(0L, 1L, 2L), 5),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Lane("p10_embed_lsh_topk", (s, dir) =>
      Similarity.lshTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numPlanes = 4),
      // radius-0 LSH: candidates share the exact hyperplane bucket — the
      // planes embed as double literals (the p11 precedent), so DuckDB
      // re-derives the bucket join and the in-bucket cosine ranking
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(4, 64))} AS bucket FROM e),
         |scored AS (
         | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
         | FROM sig q JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         | WHERE q.vec_id IN (0, 1, 2)),
         |ranked AS (SELECT *, row_number() OVER
         | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
         |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Lane("p17_multiprobe_lsh", (s, dir) =>
      // full-radius multi-probe covers every bucket → must equal the
      // brute-force ranking exactly (hard oracle for the LSH join path)
      Similarity.lshTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numPlanes = 4, probeRadius = 4),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Lane("p21_lsh_probe_containment", (s, dir) => {
      // pins the intermediate probe radii (p10's oracle pins 0, p17 pins
      // full): at each radius the probe-mask candidate set must equal the
      // hamming-≤r ball derived brute-force from the signatures
      val e = tbl(s, dir, "embeddings")
      Seq(1, 2, 3).map(r => Similarity.lshProbeContainment(
        e, "vec_id", "embedding", Seq(0L, 1L, 2L), 4, 64, r))
        .reduce(_ unionAll _)
    },
      """SELECT CAST(r AS BIGINT) AS radius, CAST(0 AS BIGINT) AS n_missing,
        | CAST(0 AS BIGINT) AS n_extra
        |FROM (VALUES (1), (2), (3)) AS t(r)""".stripMargin),
    Lane("p11_embed_near_dups", (s, dir) =>
      // fixed-planes EXPERT shape, kept as the oracle lane for
      // reproducible bucket assignments; the default surface is p51
      Dedup.embeddingNearDups(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        0.3, Similarity.randomPlanes(4, 64)),
      // hyperplane bucket from the same deterministic planes (embedded as
      // double literals) + cosine threshold — the p09 list_cosine precedent
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(4, 64))} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin),
    Lane("p51_embed_dedup_default", (s, dir) =>
      // THE default near-dup surface: plane count derived from the corpus
      // size (autoPlanes) — scale-safe shape users should copy. At the
      // verify SF the corpus is under the default targetBucket, so
      // autoPlanes resolves to 1 plane; the oracle pins that resolution
      Dedup.embeddingNearDups(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", 0.3, 64),
      // the default surface derives planes = autoPlanes(count(*)); with
      // the verify corpus under the default targetBucket (2000) that is
      // exactly 1 plane — the oracle re-derives that plane's buckets
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(1, 64))} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin),
    Lane("p50_embed_multiprobe", (s, dir) =>
      // multi-probe near-dup search: the probe-mask equi-join must equal
      // the hamming-ball truth (bit_count(xor) <= radius) the oracle
      // derives independently — recall recovery without a cross join
      Dedup.embeddingNearDupsMultiprobe(
        tbl(s, dir, "embeddings").filter(col("vec_id") < 400),
        "vec_id", "embedding", 0.3, Similarity.randomPlanes(6, 64), 2),
      // the hamming-ball TRUTH (bit_count of the signature XOR), with no
      // probe masks involved — completeness AND soundness of the probe
      // enumeration in one hash compare
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 400),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(6, 64))} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.bucket::BIGINT, b.bucket::BIGINT)) <= 2
         |  AND list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin),
    Lane("p12_multimodal_features", (s, dir) => {
      implicit val sp: SparkSession = s
      // REAL codec round-trip: synth grayscale PNGs (ImageIO encode) →
      // ImageIO decode → pixel stats; the oracle recomputes the stats from
      // the pixel formula, codec-free (PNG is lossless)
      val media = Multimodal.syntheticImageTable(
        tbl(s, dir, "documents").select(col("doc_id")))
      Multimodal.imageStats(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean"), 4).as("mean"), col("p_min"), col("p_max"))
    },
      // closed-form pixel stats of the synthetic grayscale PNGs — checks
      // the engine's ImageIO encode→decode round-trip without DuckDB
      // needing a codec (PNG is lossless)
      """WITH dims AS (SELECT doc_id, doc_id % 64 + 16 AS width,
        |  doc_id % 48 + 16 AS height FROM documents),
        |px AS (SELECT doc_id, width, height,
        |  (doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
        |  FROM dims, range(0, 80) x(x), range(0, 64) y(y)
        |  WHERE x.x < width AND y.y < height)
        |SELECT doc_id, width, height, 1 AS channels, round(AVG(v), 4) AS mean,
        |  MIN(v) AS p_min, MAX(v) AS p_max
        |FROM px GROUP BY 1, 2, 3""".stripMargin),
    Lane("p13_stream_vs_batch", (s, dir) => {
      // batch form of the streaming plan; the streaming parity is covered by
      // the ScalaTest suite (memory sink)
      EventStream.batch(s, dir, "30 minutes")
    },
      """SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type,
        | count(*) AS n, round(sum(value), 4) AS total FROM events GROUP BY 1, 2""".stripMargin),
    Lane("p14_ivf_topk", (s, dir) => {
      implicit val sp: SparkSession = s
      Ivf.topK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numClusters = 8, nProbe = 8)
    },
      // nProbe = numClusters probes exhaustively → exact == brute force
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Lane("p30_pq_adc_topk", (s, dir) => {
      implicit val sp: SparkSession = s
      // product quantization ANN: m-subspace byte codes + per-query ADC
      // lookup tables; candidates >= corpus makes the shortlist exhaustive
      // so the exact re-rank equals brute force (the p14 oracle lever) —
      // the PQ fit/encode/ADC machinery is fully on the scored path
      Pq.adcTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, m = 8, k = 16, candidates = 1 << 20)
    },
      // exhaustive ADC shortlist + exact re-rank == brute force
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Lane("p31_bpe_invariants", (s, dir) => {
      // BPE subword tokenizer: distributed word-frequency dictionary →
      // driver merge learning (incremental pair counts) → broadcast-rank
      // encode. SQL cannot replay merges, so the oracle checks the
      // SEGMENTATION INVARIANTS exactly: token concatenation is lossless
      // (n_chars) and each word ends in one marker token (n_words); the
      // merge semantics themselves are pinned by BpeSpec against the
      // Sennrich paper's worked example
      val docs = tbl(s, dir, "documents")
      val model = Bpe.train(docs, "text", 200)
      Bpe.invariants(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_words"), col("n_chars"))
    },
      // the word layer recomputed independently: counts and character
      // totals must match the BPE token stream's invariants exactly
      """WITH t AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   w -> len(w) > 0) AS ws
        | FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        | CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |   AS BIGINT) AS n_chars
        |FROM t""".stripMargin),
    Lane("p32_temperature_mix", (s, dir) =>
      // T=2 temperature mixing: domain d keeps (n_min/n_d)^(1/2) of its
      // rows by the content-keyed md5 cut — mixture weights ~ n_d^(1/2)
      Sampling.temperatureMix(tbl(s, dir, "documents"), "lang", "text", 2.0)
        .select(col("doc_id"), col("lang")),
      // per-domain cut re-derived: rate = (mn/cnt)^(1-1/T) with T=2; the
      // smallest domain (rate 1.0, 9-hex cut) keeps every row explicitly
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |thr AS (SELECT lang, cnt, mn,
        |  CAST(floor(pow(CAST(mn AS DOUBLE) / cnt, 0.5)
        |    * 4294967296.0) AS BIGINT) AS cut
        | FROM c, m),
        |thr2 AS (SELECT lang, cut,
        |  lpad(lower(hex(cut)), 8, '0') AS t FROM thr)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN thr2 ON d.lang = thr2.lang
        |WHERE thr2.cut >= 4294967296 OR substr(md5(d.text), 1, 8) < thr2.t""".stripMargin),
    Lane("p33_bigram_perplexity", (s, dir) =>
      // corpus-trained add-one bigram LM (the CCNet perplexity-filter
      // stage); integer micro-nat terms make the doc aggregate
      // order-independent, so the sum is engine-reproducible bit-for-bit
      Lm.bigramPerplexity(tbl(s, dir, "documents"), "doc_id", "text"),
      // full model replay: same BOS-prepended word layer, same add-one
      // bigram smoother, same integer micro-nat terms; the average stays
      // integer (floor of an IEEE division of identical integers) —
      // round()ed floats would diverge on 7th-digit ties
      """WITH t AS (SELECT doc_id,
        | list_prepend('<s>', list_filter(string_split_regex(lower(text),
        |   '[^a-z0-9]+'), w -> len(w) > 0)) AS ws
        | FROM documents),
        |bg AS (SELECT doc_id, unnest(list_zip(list_slice(ws, 1, len(ws)-1),
        |   list_slice(ws, 2, len(ws)))) AS p
        | FROM t WHERE len(ws) >= 2),
        |bg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1,
        |   struct_extract(p, 2) AS w2 FROM bg),
        |g AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg2 GROUP BY 1,2,3),
        |mb AS (SELECT w1, w2, sum(cnt) AS cb FROM g GROUP BY 1,2),
        |mc AS (SELECT w1, sum(cb) AS cu FROM mb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS vv FROM mb),
        |terms AS (SELECT g.doc_id, g.cnt,
        |   CAST(floor(ln((CAST(mb.cb AS DOUBLE) + 1.0) /
        |     (CAST(mc.cu AS DOUBLE) + CAST(v.vv AS DOUBLE)))
        |     * 1000000.0) AS BIGINT) AS tm
        | FROM g JOIN mb USING (w1, w2) JOIN mc USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(-sum(cnt * tm) AS BIGINT) AS nll_micro,
        |  CAST(floor(CAST(-sum(cnt * tm) AS DOUBLE) /
        |    CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS avg_nll_micro
        |FROM terms GROUP BY 1""".stripMargin),
    Lane("p35_dsir_weights", (s, dir) =>
      // DSIR hashed-bigram importance weights against the lang='en'
      // target slice; 4096 power-of-two buckets make the fnv64 bucket a
      // low-bits mask on both engines
      Sampling.dsirWeights(tbl(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", 4096),
      // full replay: same word layer, same fnv64 bucket mask, same
      // add-one smoothed log-ratio in integer micro-nats
      s"""WITH t AS (SELECT doc_id, lang,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |   w -> len(w) > 0) AS ws
         | FROM documents),
         |bg AS (SELECT doc_id, lang,
         |   unnest(list_zip(list_slice(ws, 1, len(ws)-1),
         |     list_slice(ws, 2, len(ws)))) AS p
         | FROM t WHERE len(ws) >= 2),
         |bg2 AS (SELECT doc_id, lang,
         |   struct_extract(p, 1) || ' ' || struct_extract(p, 2) AS s FROM bg),
         |bk AS (SELECT doc_id, lang,
         |   CAST(${fnv64Sql("s")} % 4096 AS BIGINT) AS b FROM bg2),
         |g AS (SELECT doc_id, lang, b, count(*) AS cnt FROM bk GROUP BY 1,2,3),
         |rbt AS (SELECT b, sum(cnt) AS rb FROM g GROUP BY 1),
         |tbt AS (SELECT b, sum(cnt) AS tb FROM g WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT (SELECT sum(rb) FROM rbt) AS tr,
         |   (SELECT coalesce(sum(tb), 0) FROM tbt) AS tt),
         |terms AS (SELECT g.doc_id, g.cnt,
         |   CAST(floor(ln(
         |     (CAST(coalesce(tbt.tb, 0) + 1 AS DOUBLE)
         |       * CAST(tot.tr + 4096 AS DOUBLE)) /
         |     (CAST(rbt.rb + 1 AS DOUBLE)
         |       * CAST(tot.tt + 4096 AS DOUBLE)))
         |     * 1000000.0) AS BIGINT) AS tm
         | FROM g JOIN rbt USING (b) LEFT JOIN tbt USING (b) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |  CAST(sum(cnt * tm) AS BIGINT) AS logw_micro,
         |  CAST(floor(CAST(sum(cnt * tm) AS DOUBLE) /
         |    CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS avg_logw_micro
         |FROM terms GROUP BY 1""".stripMargin),
    Lane("p37_ivfpq_topk", (s, dir) => {
      implicit val sp: SparkSession = s
      // IVF-PQ: residual product quantization inside probed inverted
      // lists; nProbe = numClusters + exhaustive shortlist → the exact
      // re-rank equals brute force (the compounded oracle lever) while
      // the assignment/residual/LUT machinery stays on the scored path
      IvfPq.topK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numClusters = 8, nProbe = 8, m = 8, k = 16,
        candidates = 1 << 20)
    },
      // exhaustive probes + exhaustive shortlist → exact == brute force
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Lane("p36_exact_quantiles", (s, dir) =>
      // exact per-language n_chars quantiles (quantile_disc semantics) —
      // distinct-value compression + per-group window, no global sort
      Stats.exactQuantiles(tbl(s, dir, "documents"), "n_chars", "lang",
        Seq(0.1, 0.5, 0.9, 0.99)),
      // DuckDB's own exact quantile_disc as the oracle (list form +
      // parallel unnest); rank rule max(1, ceil(q*n)) on both engines
      """WITH t AS (SELECT lang,
        |  [0.1, 0.5, 0.9, 0.99] AS ql,
        |  quantile_disc(n_chars, [0.1, 0.5, 0.9, 0.99]) AS vl
        | FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT lang, unnest(ql) AS q, unnest(vl) AS value FROM t""".stripMargin),
    Lane("p38_trigram_perplexity", (s, dir) =>
      // Jelinek-Mercer interpolated trigram LM: four count tables from
      // ONE trigram multiset, identical IEEE interpolation both engines
      Lm.trigramPerplexity(tbl(s, dir, "documents"), "doc_id", "text"),
      // full replay of the interpolated model as ONE WINDOW PASS over the
      // trigram positions (count() OVER per n-gram slice) — the naive
      // 6-way CTE join form made DuckDB's inlining planner explode; the
      // windowed form computes identical counts in under a second.
      // Addition order mirrors the engine's left-associative interpolation
      """WITH t AS (SELECT doc_id,
        | list_prepend('<s>', list_prepend('<s>',
        |   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |     w -> len(w) > 0))) AS ws
        | FROM documents),
        |tg AS (SELECT doc_id, unnest(list_zip(
        |   list_slice(ws, 1, len(ws)-2), list_slice(ws, 2, len(ws)-1),
        |   list_slice(ws, 3, len(ws)))) AS p
        | FROM t WHERE len(ws) >= 3),
        |tg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1,
        |   struct_extract(p, 2) AS w2, struct_extract(p, 3) AS w3 FROM tg),
        |w AS (SELECT doc_id,
        |  count(*) OVER (PARTITION BY w1, w2, w3) AS c3,
        |  count(*) OVER (PARTITION BY w1, w2) AS c2ctx,
        |  count(*) OVER (PARTITION BY w2, w3) AS cbg,
        |  count(*) OVER (PARTITION BY w2) AS c1ctx,
        |  count(*) OVER (PARTITION BY w3) AS c1,
        |  count(*) OVER () AS n
        | FROM tg2),
        |terms AS (SELECT doc_id, CAST(floor(ln(
        |    0.5 * (CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE))
        |  + 0.3 * (CAST(cbg AS DOUBLE) / CAST(c1ctx AS DOUBLE))
        |  + 0.15 * (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
        |  + 0.05 / CAST((SELECT count(DISTINCT w3) FROM tg2) AS DOUBLE))
        |  * 1000000.0) AS BIGINT) AS tm
        | FROM w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(-sum(tm) AS BIGINT) AS nll_micro,
        |  CAST(floor(CAST(-sum(tm) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_nll_micro
        |FROM terms GROUP BY 1""".stripMargin),
    Lane("p34_semdedup", (s, dir) =>
      // SemDeDup with numClusters = 1: the cluster equi-join degrades to
      // exact all-pairs, so the k-means + join machinery stays on the
      // scored path while the answer equals the SQL brute force (the
      // p14/p30 exhaustive lever)
      Dedup.semDeDup(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        0.35, numClusters = 1)
        .select(col("id").as("vec_id"), col("max_cos"), col("kept")),
      // all-pairs replay of the numClusters = 1 degenerate case: kept ⇔
      // no smaller-id neighbour at/above the cosine threshold
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT b.vec_id AS id, max(list_cosine_similarity(a.v, b.v)) AS mc
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id GROUP BY 1)
        |SELECT e.vec_id, round(m.mc, 6) AS max_cos,
        |  (m.mc IS NULL OR m.mc < 0.35) AS kept
        |FROM e LEFT JOIN m ON e.vec_id = m.id""".stripMargin),
    Lane("p39_clean_with_lm", (s, dir) => {
      // composed flagship: exact dedup + quality floor + language filter
      // (CorpusClean) JOINED with the corpus-trained bigram-LM score and
      // cut at 3.4 nats/token — the CCNet-style perplexity gate on top of
      // the cleaning pipeline, one Spark plan end to end
      val docs = tbl(s, dir, "documents")
      CorpusClean.run(docs, 0.3, Seq("de", "en", "es", "fr", "zh"))
        .join(Lm.bigramPerplexity(docs, "doc_id", "text")
          .select(col("doc_id"), col("avg_nll_micro")), "doc_id")
        .filter(col("avg_nll_micro") <= 3400000L)
    },
      {
        val parts = langIdSql.split("\\|")
        val cleanSql = s"""WITH t AS (SELECT doc_id, text,
           | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws,
           | row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           | FROM documents),
           |scored AS (SELECT doc_id, text, ws, rn, ${parts(0)},
           | $qualitySql AS quality,
           | CASE WHEN length(trim(text)) = 0 THEN 0
           |  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
           | FROM t)
           |SELECT doc_id, (${parts(1)}).l AS lang_guess, n_tokens, quality
           |FROM scored WHERE rn = 1 AND quality >= 0.3
           | AND (${parts(1)}).l IN ('de', 'en', 'es', 'fr', 'zh')""".stripMargin
        val pplSql = """WITH t AS (SELECT doc_id,
          | list_prepend('<s>', list_filter(string_split_regex(lower(text),
          |   '[^a-z0-9]+'), w -> len(w) > 0)) AS ws
          | FROM documents),
          |bg AS (SELECT doc_id, unnest(list_zip(list_slice(ws, 1, len(ws)-1),
          |   list_slice(ws, 2, len(ws)))) AS p
          | FROM t WHERE len(ws) >= 2),
          |bg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1,
          |   struct_extract(p, 2) AS w2 FROM bg),
          |g AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg2 GROUP BY 1,2,3),
          |mb AS (SELECT w1, w2, sum(cnt) AS cb FROM g GROUP BY 1,2),
          |mc AS (SELECT w1, sum(cb) AS cu FROM mb GROUP BY 1),
          |v AS (SELECT count(DISTINCT w2) AS vv FROM mb),
          |terms AS (SELECT g.doc_id, g.cnt,
          |   CAST(floor(ln((CAST(mb.cb AS DOUBLE) + 1.0) /
          |     (CAST(mc.cu AS DOUBLE) + CAST(v.vv AS DOUBLE)))
          |     * 1000000.0) AS BIGINT) AS tm
          | FROM g JOIN mb USING (w1, w2) JOIN mc USING (w1) CROSS JOIN v)
          |SELECT doc_id,
          |  CAST(floor(CAST(-sum(cnt * tm) AS DOUBLE) /
          |    CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS avg_nll_micro
          |FROM terms GROUP BY 1""".stripMargin
        s"""WITH clean AS ($cleanSql),
           |ppl AS ($pplSql)
           |SELECT c.doc_id, c.lang_guess, c.n_tokens, c.quality,
           |  p.avg_nll_micro
           |FROM clean c JOIN ppl p USING (doc_id)
           |WHERE p.avg_nll_micro <= 3400000""".stripMargin
      }),
    Lane("p15_corpus_clean", (s, dir) =>
      CorpusClean.run(tbl(s, dir, "documents"), 0.3,
        Seq("de", "en", "es", "fr", "zh")),
      {
        val parts = langIdSql.split("\\|")
        s"""WITH t AS (SELECT doc_id, text,
           | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws,
           | row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           | FROM documents),
           |scored AS (SELECT doc_id, text, ws, rn, ${parts(0)},
           | $qualitySql AS quality,
           | CASE WHEN length(trim(text)) = 0 THEN 0
           |  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
           | FROM t)
           |SELECT doc_id, (${parts(1)}).l AS lang_guess, n_tokens, quality
           |FROM scored WHERE rn = 1 AND quality >= 0.3
           | AND (${parts(1)}).l IN ('de', 'en', 'es', 'fr', 'zh')""".stripMargin
      })
  )
}
