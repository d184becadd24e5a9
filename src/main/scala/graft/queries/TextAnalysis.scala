package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token statistics, document fingerprinting. All
  * deterministic and mirrored exactly in DuckDB SQL.
  *
  * The reference's text handling is SMILES parsing + id repair
  * (mpp.py:64-73, tanimoto.py:70-80); these generalize the same
  * "derive features from a free-text column" pattern to corpus curation.
  */
object TextAnalysis {

  private val EN = Seq("the", "a", "of", "and", "to", "in", "is")
  private val FR = Seq("le", "la", "de", "et", "les", "des", "un")
  private val DE = Seq("der", "die", "das", "und", "den", "von", "zu")

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** count of tokens belonging to a stopword set (codegen-friendly:
    * array filter over the split, no UDF)
    */
  private def stopCount(toks: Column, ws: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(ws))).cast("long")

  /** (doc_id, source, quality) for the whole corpus — text_quality's
    * scoring formula exposed for composition (the curation percentile
    * filter consumes it). Map-only, codegen'd.
    */
  private[graft] def qualityScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(s, d)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("stop_cnt", stopCount(toks, EN))
      .withColumn("punct_cnt", expr("regexp_count(text, '[.!?,;:]')").cast("long"))
      .withColumn("quality", round(
        col("stop_cnt").cast("double") / col("n_tokens") * 0.5 +
          (lit(1.0) - col("punct_cnt").cast("double") / col("n_chars")) * 0.3 +
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.2, 6))
      .select("doc_id", "source", "quality")
  }

  /** DuckDB twin of [[qualityScored]] (a full SELECT, usable as a CTE body). */
  private[graft] val sqlQualityScored: String = s"""
SELECT doc_id, source,
  round(CAST(stop_cnt AS DOUBLE) / n_tokens * 0.5 +
        (1.0 - CAST(punct_cnt AS DOUBLE) / n_chars) * 0.3 +
        least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality
FROM (
  SELECT doc_id, source, n_chars,
    len(string_split(text, ' '))::BIGINT AS n_tokens,
    len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(EN)}))::BIGINT AS stop_cnt,
    len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS punct_cnt
  FROM documents)"""

  def qs: Seq[Q] = Seq(
    // Language ID via stopword-hit scoring with deterministic argmax
    Q("text_langid",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d)
          .withColumn("en_score", stopCount(toks, EN))
          .withColumn("fr_score", stopCount(toks, FR))
          .withColumn("de_score", stopCount(toks, DE))
          .withColumn("predicted",
            when(col("en_score") >= col("fr_score") &&
                 col("en_score") >= col("de_score") && col("en_score") > 0, "en")
              .when(col("fr_score") >= col("de_score") && col("fr_score") > 0, "fr")
              .when(col("de_score") > 0, "de")
              .otherwise("und"))
          .select("doc_id", "en_score", "fr_score", "de_score", "predicted", "lang")
          .orderBy("doc_id")
      },
      Some(s"""
WITH sc AS (
  SELECT doc_id, lang,
    len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(EN)})) AS en_score,
    len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(FR)})) AS fr_score,
    len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(DE)})) AS de_score
  FROM documents)
SELECT doc_id, en_score, fr_score, de_score,
  CASE WHEN en_score >= fr_score AND en_score >= de_score AND en_score > 0 THEN 'en'
       WHEN fr_score >= de_score AND fr_score > 0 THEN 'fr'
       WHEN de_score > 0 THEN 'de'
       ELSE 'und' END AS predicted,
  lang
FROM sc ORDER BY doc_id""")),

    // Quality scoring: stopword ratio + punctuation density + length
    // prior, one double formula evaluated identically in both engines
    Q("text_quality",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d)
          .withColumn("n_tokens", size(toks).cast("long"))
          .withColumn("stop_cnt", stopCount(toks, EN))
          .withColumn("punct_cnt", expr("regexp_count(text, '[.!?,;:]')").cast("long"))
          .withColumn("quality", round(
            col("stop_cnt").cast("double") / col("n_tokens") * 0.5 +
              (lit(1.0) - col("punct_cnt").cast("double") / col("n_chars")) * 0.3 +
              least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.2, 6))
          .select("doc_id", "n_tokens", "stop_cnt", "punct_cnt", "quality")
          .orderBy("doc_id")
      },
      Some(s"""
WITH f AS (
  SELECT doc_id, n_chars,
    len(string_split(text, ' '))::BIGINT AS n_tokens,
    len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(EN)}))::BIGINT AS stop_cnt,
    len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS punct_cnt
  FROM documents)
SELECT doc_id, n_tokens, stop_cnt, punct_cnt,
  round(CAST(stop_cnt AS DOUBLE) / n_tokens * 0.5 +
        (1.0 - CAST(punct_cnt AS DOUBLE) / n_chars) * 0.3 +
        least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality
FROM f ORDER BY doc_id""")),

    // Token statistics: whitespace tokens, regex (BPE-ish word/number/
    // symbol) tokens, distinct tokens, mean token length
    Q("text_token_stats",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d)
          .withColumn("ws_tokens", size(toks).cast("long"))
          .withColumn("re_tokens",
            expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')").cast("long"))
          .withColumn("distinct_tokens", size(array_distinct(toks)).cast("long"))
          .withColumn("mean_tok_len",
            round(length(regexp_replace(col("text"), " ", "")).cast("double") /
              col("ws_tokens"), 6))
          .select("doc_id", "ws_tokens", "re_tokens", "distinct_tokens", "mean_tok_len")
          .orderBy("doc_id")
      },
      Some("""
SELECT doc_id,
  len(string_split(text, ' '))::BIGINT AS ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS re_tokens,
  len(list_distinct(string_split(text, ' ')))::BIGINT AS distinct_tokens,
  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        len(string_split(text, ' ')), 6) AS mean_tok_len
FROM documents ORDER BY doc_id""")),

    // Text normalization: casefold, strip non-alphanumerics, collapse
    // whitespace — the canonical first step before tokenize/shingle/dedup
    Q("text_normalize",
      (s, d) => Tables.documents(s, d)
        .withColumn("normalized",
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")))
        .select("doc_id", "normalized")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                       ' +', ' ', 'g')) AS normalized
              FROM documents ORDER BY doc_id""")),

    // Per-language top terms (Zipf head): token counts then windowed
    // top-5 per lang — corpus vocabulary profiling
    Q("text_top_terms",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("cnt").desc, col("tok").asc)
        Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("lang"), col("tok"), col("cnt"),
            col("rn").cast("long").as("rn"))
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, tok, cnt, rn FROM (
                SELECT lang, tok, count(*) AS cnt,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY count(*) DESC, tok ASC) AS rn
                FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                GROUP BY lang, tok)
              WHERE rn <= 5 ORDER BY lang, rn""")),

    // Document fingerprinting: full-text rolling hash + min-hash over
    // 3-token shingles (winnowing-style content signature)
    Q("text_fingerprint",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("text_hash", expr("tok_hash(text)"))
          .withColumn("shingle_min_hash", expr("shingle_min(text)"))
          .select("doc_id", "text_hash", "shingle_min_hash")
          .orderBy("doc_id")
      },
      Some(s"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
  ${TextHash.sqlTokenHash("text")} AS text_hash,
  CASE WHEN len(toks) < 3 THEN ${TextHash.sqlTokenHash("text")}
       ELSE list_min(list_transform(range(1, len(toks)-1),
              i -> ${TextHash.sqlTokenHash("(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])")}))
  END AS shingle_min_hash
FROM t ORDER BY doc_id""")),

    // Repetition detection — the distinct-trigram ratio as a
    // compression-proxy quality signal: templated/looping text (the
    // classic web-crawl failure mode) reuses its trigrams, so
    // distinct/total drops. Map-only and codegen'd; the same
    // shingle_set feeding the dedup family is reused so the signal is
    // consistent with what near-dup dedup sees.
    Q("text_repetition_ratio",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d)
          .withColumn("n_trigrams",
            when(size(toks) < 3, lit(1L))
              .otherwise((size(toks) - 2).cast("long")))
          .withColumn("n_distinct",
            size(expr("shingle_set(text)")).cast("long"))
          .withColumn("rep_ratio",
            round(col("n_distinct").cast("double") / col("n_trigrams"), 6))
          .withColumn("repetitive", col("rep_ratio") < 0.5)
          .select("doc_id", "n_trigrams", "n_distinct", "rep_ratio", "repetitive")
          .orderBy("doc_id")
      },
      Some(s"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN len(string_split(text, ' ')) < 3 THEN 1
         ELSE len(string_split(text, ' ')) - 2 END AS n_trigrams,
    len(${graft.queries.Dedup.sqlShingles("text")}) AS n_distinct
  FROM documents)
SELECT doc_id, n_trigrams, n_distinct,
       round(n_distinct::DOUBLE / n_trigrams, 6) AS rep_ratio,
       round(n_distinct::DOUBLE / n_trigrams, 6) < 0.5 AS repetitive
FROM t ORDER BY doc_id""")),

    // Vocabulary coverage — the first step of any tokenizer build: the
    // top-V corpus vocabulary by term frequency (deterministic
    // tie-break on the term), then each document's out-of-vocabulary
    // rate against it. The vocab is a global top-k over a partial
    // aggregation (TakeOrderedAndProject — only V rows ever cross the
    // final stage) and BROADCASTS back to the token stream, so the
    // coverage pass is map-side; at 100 TB the only full shuffle is
    // the term-frequency groupBy, which is the minimum the statistic
    // needs. High-OOV docs are the usual cut candidates (wrong
    // language, binary junk, OCR noise).
    Q("text_vocab_coverage",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("tok").asc).limit(500)
          .select(col("tok"), lit(true).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
          .withColumn("oov_rate",
            round(col("n_oov").cast("double") / col("n_tokens"), 6))
          .orderBy("doc_id")
      },
      Some("""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
v AS (SELECT tok FROM (SELECT tok, count(*) AS tf FROM t GROUP BY tok
                       ORDER BY tf DESC, tok ASC LIMIT 500)),
j AS (SELECT t.doc_id, v.tok IS NOT NULL AS in_vocab
      FROM t LEFT JOIN v ON t.tok = v.tok)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       round(CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS oov_rate
FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // Corpus-rarity scoring — the inverse signal of vocab coverage:
    // the mean DOCUMENT frequency of a document's distinct vocabulary.
    // Low mean-df documents are built from terms few other documents
    // use (jargon, other languages, junk — or genuinely novel text);
    // curation pipelines use it to route outliers to review instead of
    // blindly sampling by quality score. Everything before the final
    // projection is BIGINT (count + sum of counts), so the aggregation
    // is order-insensitive; the one double division happens once per
    // output row on exact integers < 2^53 — deterministic, hence
    // hash-gateable. Scale: the df table and the per-doc rollup are
    // the two shuffles (both on the minimum keys: token, then doc_id);
    // the df join shuffles the distinct (doc, token) stream once —
    // df itself is vocabulary-sized, NOT corpus-sized.
    Q("text_rarity_score",
      (s, d) => {
        val td = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val dft = td.groupBy("tok").agg(count(lit(1)).as("df"))
        td.join(dft, Seq("tok"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("vocab_n"), sum("df").as("df_sum"))
          .withColumn("mean_df",
            round(col("df_sum").cast("double") / col("vocab_n"), 6))
          .orderBy("doc_id")
      },
      Some("""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
td AS (SELECT DISTINCT doc_id, tok FROM t),
dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY tok)
SELECT td.doc_id, count(*)::BIGINT AS vocab_n,
       CAST(sum(dft.df) AS BIGINT) AS df_sum,
       round(CAST(sum(dft.df) AS DOUBLE) / count(*), 6) AS mean_df
FROM td JOIN dft ON td.tok = dft.tok
GROUP BY td.doc_id ORDER BY doc_id""")),

    // BM25 keyword retrieval — the lexical-search staple (corpus
    // exploration, search-based decontamination, hybrid retrieval next
    // to the ANN family). Okapi BM25 with k1=1.2, b=0.75 for a fixed
    // 3-term query: per-doc term frequencies and length are map-side
    // column arithmetic; the corpus statistics (N, df per term, Σdl)
    // are ONE 1-row aggregate broadcast back — so the whole scoring
    // pass is a single scan plus a 1-row cross join, and the top-k is
    // TakeOrderedAndProject (k rows cross the final stage, never the
    // corpus). The per-term score contributions are summed in a FIXED
    // written order (t1+t2+t3, not an aggregate) so the double sum is
    // engine-exact; ln() is the one libm call, absorbed by round(…,4).
    Q("text_bm25_topk",
      (s, d) => {
        val scored = bm25Scored(s, d)
          .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .orderBy("rn")
      },
      Some(s"""
WITH $bm25ScoredSql
SELECT doc_id, score, rn FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM sc)
WHERE rn <= 10 ORDER BY rn""")),

    // Sliding-window chunking — the RAG/context-window prep step every
    // LLM pipeline runs between curation and embedding: split each
    // document into 50-token windows advancing by 30 (20-token
    // overlap). This MATERIALIZES chunk text for the embedding/serving
    // stage; curation_chunk_overlap is the content-addressed twin
    // (hash-only, stride 40) feeding chunk-level dedup — same grid
    // family, opposite consumer. The plan is MAP-ONLY: tokenize once,
    // explode the window-start sequence, slice the kept token array
    // per start — no shuffle, no self-join; output order is
    // (doc_id, chunk_idx).
    // At 100 TB this is the shape you want: chunking parallelizes
    // per-document, the 1.67x text amplification from overlap is paid
    // in the map stage, and downstream (embedding, dedup) sees
    // chunk_id = (doc_id, chunk_idx) as a stable key. Empty docs chunk
    // to nothing on both engines (the n > 0 guard).
    Q("text_chunk_sliding",
      (s, d) => {
        val win = 50
        val stride = 30
        val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
        Tables.documents(s, d)
          .select(col("doc_id"), toks.as("toks"))
          .withColumn("n", size(col("toks")).cast("long"))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("toks"), col("n"),
            explode(sequence(lit(0L), col("n") - 1, lit(stride.toLong)))
              .as("start"))
          .select(col("doc_id"),
            expr(s"start div $stride").as("chunk_idx"),
            least(lit(win.toLong), col("n") - col("start")).as("chunk_tokens"),
            array_join(slice(col("toks"), col("start") + 1, lit(win)), " ")
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
s AS (SELECT doc_id, toks, n,
             unnest(generate_series(0, n - 1, 30)) AS start
      FROM n)
SELECT doc_id, start // 30 AS chunk_idx,
       least(50, n - start) AS chunk_tokens,
       array_to_string(toks[start + 1:start + 50], ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_idx""")),

    // Sentence-aligned chunking — the other standard RAG splitter: a
    // chunk never cuts a sentence in half. Sentences are split on the
    // '. ' delimiter (plain string: RE2-family engines lack lookbehind,
    // so a portable oracle rules out fancier boundary regexes), each
    // sentence is assigned to the ~100-token chunk where it STARTS
    // (chunk = cum-tokens-before div 100 — boundaries live on the
    // token grid, so a chunk can overrun by at most one sentence;
    // TRUE greedy reset-at-boundary is a sequential recurrence that
    // neither engine can express as a window, and the overrun-bounded
    // grid is the standard declarative compromise). Reassembly is
    // order-pinned: sort_array over (idx, sentence) structs here,
    // string_agg ORDER BY idx in DuckDB. One doc-keyed window + one
    // (doc, chunk) aggregate — two narrow shuffles at any corpus size.
    Q("text_chunk_sentences",
      (s, d) => {
        val budget = 100
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id").orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), "\\. ")).as(Seq("idx", "sentence")))
          .withColumn("n_tok", size(split(col("sentence"), " ")).cast("long"))
          .withColumn("cum_before",
            coalesce(sum("n_tok").over(w), lit(0L)))
          .withColumn("chunk_idx", expr(s"cum_before div $budget"))
          .groupBy("doc_id", "chunk_idx")
          .agg(count(lit(1)).as("n_sentences"),
            sum("n_tok").as("chunk_tokens"),
            array_join(transform(
              sort_array(collect_list(struct(col("idx"), col("sentence")))),
              x => x.getField("sentence")), ". ").as("chunk_text"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""
WITH sl AS (SELECT doc_id, string_split(text, '. ') AS sents FROM documents),
sen0 AS (
  SELECT doc_id, generate_subscripts(sents, 1) - 1 AS idx,
         unnest(sents) AS sentence
  FROM sl),
sen AS (
  SELECT doc_id, idx, sentence,
         len(string_split(sentence, ' '))::BIGINT AS n_tok
  FROM sen0),
c AS (
  SELECT doc_id, idx, sentence, n_tok,
         CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM sen)
SELECT doc_id, cum_before // 100 AS chunk_idx,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
       string_agg(sentence, '. ' ORDER BY idx) AS chunk_text
FROM c GROUP BY doc_id, cum_before // 100
ORDER BY doc_id, chunk_idx""")),

    // HTML boilerplate strip — the first stage of every web-crawl
    // curation pipeline (WET-file extraction): drop script/style/
    // comment blocks WHOLE (their text is not content — a '<' inside
    // javascript must not derail tag parsing), strip remaining tags to
    // whitespace, decode entities AFTER tag-stripping (the order is
    // the correctness point: decoding first would turn '&lt;eof&gt;'
    // into a tag and eat it), then collapse whitespace. Map-only,
    // codegen regexp chain — no shuffle before the presentation sort;
    // at 100 TB this runs at scan speed on the raw crawl. The fixture
    // wraps each document in deterministic HTML (attributes, nested
    // tags, a comment, entities, a hostile script with '<' and quotes)
    // so the oracle re-derives the strip from the ORIGINAL text —
    // every regex and the decode order are differentially checked.
    Q("text_html_strip",
      (s, d) => {
        val html = Tables.documents(s, d).withColumn("html", concat(
          lit("<html><head><title>"), col("source"), lit("</title>"),
          lit("<style type=\"text/css\">body{margin:0} p{color:red}</style></head>"),
          lit("<body><h1 class=\"hd\">"), col("source"), lit("</h1>"),
          lit("<!-- doc "), col("doc_id").cast("string"), lit(" -->"),
          lit("<p>"), expr("substring(text, 1, n_chars div 2)"), lit("</p>"),
          lit("<p>"), expr("substring(text, n_chars div 2 + 1)"),
          lit(" &amp; tail &lt;eof&gt;</p>"),
          lit("<script>if (1 < 2) { var x = \"&amp;\"; }</script></body></html>")))
        val stripped = Seq(
          "(?s)<script[^>]*>.*?</script>",
          "(?s)<style[^>]*>.*?</style>",
          "(?s)<!--.*?-->",
          "<[^>]*>"
        ).foldLeft(col("html"))((c, p) => regexp_replace(c, p, " "))
        val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
          "&#39;" -> "'", "&amp;" -> "&")
          .foldLeft(stripped) { case (c, (from, to)) =>
            replace(c, lit(from), lit(to)) }
        html
          .withColumn("clean", trim(regexp_replace(decoded, "\\s+", " ")))
          .select(col("doc_id"),
            length(col("clean")).cast("long").as("clean_len"),
            substring(col("clean"), 1, 60).as("prefix"),
            expr("right(clean, 30)").as("suffix"))
          .orderBy("doc_id")
      },
      Some("""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>' || source || '</title>' ||
    '<style type="text/css">body{margin:0} p{color:red}</style></head>' ||
    '<body><h1 class="hd">' || source || '</h1>' ||
    '<!-- doc ' || CAST(doc_id AS VARCHAR) || ' -->' ||
    '<p>' || substring(text, 1, n_chars // 2) || '</p>' ||
    '<p>' || substring(text, n_chars // 2 + 1) || ' &amp; tail &lt;eof&gt;</p>' ||
    '<script>if (1 < 2) { var x = "&amp;"; }</script></body></html>' AS html
  FROM documents),
c AS (
  SELECT doc_id, trim(regexp_replace(
    replace(replace(replace(replace(replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
    '\s+', ' ', 'g')) AS clean
  FROM h)
SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len,
       substring(clean, 1, 60) AS prefix, right(clean, 30) AS suffix
FROM c ORDER BY doc_id""")),

    // Bigram collocation mining (PMI) — the phrase/multi-word-
    // expression discovery pass a tokenizer pipeline runs before
    // vocabulary induction. Bigrams are ADJACENT token pairs in the
    // raw stream (position-true: the stream is never pre-filtered, so
    // no false adjacencies appear); stopword-ish short tokens are
    // dropped from the REPORT, not the stream. PMI = ln(c12·N /
    // (c1·c2)) over unigram counts, rounded to 4 decimals per the
    // repo's ln() portability rule; the ratio is built in double space
    // so the products can't overflow at corpus scale. At 100 TB:
    // bigram extraction is per-document map-side work (one lead() over
    // the doc-local position order — doc_id partitions, never a global
    // sort), then one count shuffle on the pair; unigram counts are a
    // vocabulary-sized broadcast.
    Q("text_term_cooccurrence",
      (s, d) => {
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val uni = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        val nTok = toks.agg(count(lit(1)).as("n_tok"))
        val pairs = toks
          .withColumn("nxt", lead("tok", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("tok").as("t1"), col("nxt").as("t2"))
          .agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5 &&
            length(col("t1")) >= 3 && length(col("t2")) >= 3)
        pairs
          .join(broadcast(uni.select(col("tok").as("t1"),
            col("cnt").as("c1"))), "t1")
          .join(broadcast(uni.select(col("tok").as("t2"),
            col("cnt").as("c2"))), "t2")
          .crossJoin(broadcast(nTok))
          .select(col("t1"), col("t2"), col("c12"), col("c1"), col("c2"),
            round(log(col("c12").cast("double") * col("n_tok") /
              (col("c1") * col("c2"))), 4).as("pmi"))
          .orderBy("t1", "t2")
      },
      Some("""
WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
toks AS (
  SELECT doc_id, ts[i + 1] AS tok, i AS pos
  FROM sp, UNNEST(range(0, len(ts))) AS t(i)),
uni AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
nt AS (SELECT count(*) AS n_tok FROM toks),
big AS (
  SELECT tok AS t1, lead(tok, 1) OVER (PARTITION BY doc_id
           ORDER BY pos) AS t2
  FROM toks),
pairs AS (
  SELECT t1, t2, count(*) AS c12 FROM big WHERE t2 IS NOT NULL
  GROUP BY t1, t2
  HAVING count(*) >= 5 AND length(t1) >= 3 AND length(t2) >= 3)
SELECT t1, t2, c12, u1.cnt AS c1, u2.cnt AS c2,
       round(ln(CAST(c12 AS DOUBLE) * n_tok / (u1.cnt * u2.cnt)), 4) AS pmi
FROM pairs
JOIN uni u1 ON pairs.t1 = u1.tok
JOIN uni u2 ON pairs.t2 = u2.tok
CROSS JOIN nt ORDER BY t1, t2""")),

    // Bigram language-model scoring — the perplexity-style quality
    // filter (CCNet's KenLM pass) as a query: train an add-one-smoothed
    // bigram LM on the corpus itself, then score every document by its
    // mean log-probability ln p(w2|w1) = ln((c12+1)/(c1+V)). Low
    // scores mark boilerplate-free but incoherent text that the
    // surface heuristics (text_quality) cannot see. Portability: each
    // bigram's log term is rounded to a SCALED INTEGER (ln·10⁴ →
    // BIGINT) at the occurrence level, so the per-document sum is
    // exact integer arithmetic — no float-summation order anywhere —
    // and the one libm ln() call is absorbed by the rounding, per the
    // repo's ln() rule. At 100 TB: bigram extraction is doc-local
    // (lead over the doc-partitioned position order), counts take one
    // pair-key shuffle, and the score join runs on per-document
    // DISTINCT pairs (not occurrences) against the same aggregate
    // subtree — Catalyst reuses the exchange — while the
    // vocabulary-sized unigram table broadcasts.
    Q("text_ngram_lm_score",
      (s, d) => lmScored(s, d).orderBy("doc_id"),
      Some(s"""
WITH $sqlLmScored
SELECT doc_id, n_bigrams, lm_score FROM lm ORDER BY doc_id""")),

    // Model-based quality gate — fastText-shaped linear classifier
    // INFERENCE as a map-only query: hashed bag-of-words features, one
    // weight per hash bucket, mean activation through a sigmoid, keep
    // iff p ≥ 0.5. The weights here are a deterministic pseudo-model
    // (w(t) derived from the portable token hash, in [-1, 1]) so both
    // engines hold byte-identical parameters without an external model
    // file; swapping in trained weights changes a constant table, not
    // the plan. Portability: the weight SUM is exact integer
    // arithmetic (each weight an integer in [-1000, 1000]), the single
    // division is one IEEE double op, and the sigmoid's exp() is
    // absorbed by round(·,4) like every libm call in this repo. At
    // 100 TB this is the ideal operator: a pure scan — zero shuffles,
    // zero joins, no model broadcast — the classifier rides inside
    // whole-stage codegen's per-row loop.
    Q("text_quality_classifier",
      (s, d) => classifierScored(s, d)
        .select(col("doc_id"), col("n_tokens"), col("wsum"),
          col("score"), (col("score") >= 0.5).as("keep"))
        .orderBy("doc_id"),
      Some(s"""
WITH $sqlClassifierScored
SELECT doc_id, n_tokens, wsum, score, score >= 0.5 AS keep
FROM cls ORDER BY doc_id""")),

    // Exact phrase search — the retrieval primitive BM25's bag-of-words
    // scoring cannot express (term adjacency): occurrences of the fixed
    // 2-term phrase "vector stream" as consecutive positions in the
    // position-true token stream. The positional self-join is the
    // inverted-index-with-positions shape a phrase-capable index
    // serves: each side prefilters to ITS term before any join (the
    // filters reach the scan), the join key is (doc_id, adjacent
    // position) — shuffle ∝ the two terms' posting sizes, never the
    // corpus. Emits per-doc occurrence count and first hit position,
    // matched docs only.
    Q("text_phrase_search",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val t1 = toks.filter(col("tok") === "vector")
          .select(col("doc_id"), col("pos"))
        val t2 = toks.filter(col("tok") === "stream")
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        t1.join(t2, Seq("doc_id", "pos"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_phrase"),
            min("pos").cast("long").as("first_pos"))
          .orderBy("doc_id")
      },
      Some("""
WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
toks AS (
  SELECT doc_id, ts[i + 1] AS tok, i AS pos
  FROM sp, UNNEST(range(0, len(ts))) AS t(i)),
t1 AS (SELECT doc_id, pos FROM toks WHERE tok = 'vector'),
t2 AS (SELECT doc_id, pos - 1 AS pos FROM toks WHERE tok = 'stream')
SELECT t1.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_phrase,
       CAST(min(t1.pos) AS BIGINT) AS first_pos
FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id AND t1.pos = t2.pos
GROUP BY t1.doc_id ORDER BY doc_id""")),

    // TF-IDF keyword extraction — each document's top-3 most
    // characteristic terms (the per-doc summary that feeds tagging,
    // routing, and retrieval-index boosting). tf is a per-(doc, term)
    // count, idf = ln((N+1)/(df+1)) smoothed so corpus-universal terms
    // score ~0 instead of dividing by zero. Portability: idf rounds to
    // a ×10⁴ scaled BIGINT at the term grain (the text_term_cooccurrence
    // ln rule), so score = tf · idf_scaled is EXACT integer arithmetic
    // and the per-doc top-3 window has no float order anywhere.
    // Plan shape: one (doc_id, tok) count shuffle, df aggregated FROM
    // tf (no second corpus pass), df broadcast back (vocab-sized —
    // the PMI unigram-table rule), one doc_id window. At 100 TB the
    // df table outgrows broadcast and the join key flips to tok —
    // noted, not silently assumed.
    Q("text_tfidf_keywords",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("score_scaled").desc, col("tok").asc)
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .withColumn("idf_scaled",
            round(log((col("n") + 1).cast("double") / (col("df") + 1))
              * 10000).cast("long"))
          .select("tok", "df", "idf_scaled")
        tf.join(broadcast(df), Seq("tok"))
          .withColumn("score_scaled", col("tf") * col("idf_scaled"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("doc_id", "rn", "tok", "tf", "df", "score_scaled")
          .orderBy("doc_id", "rn")
      },
      Some("""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok),
n AS (SELECT count(*) AS n FROM documents),
df AS (
  SELECT tok, count(*) AS df,
         CAST(round(ln((n.n + 1)::DOUBLE / (count(*) + 1)) * 10000) AS BIGINT)
           AS idf_scaled
  FROM tf, n GROUP BY tok, n.n),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         tf.tf * df.idf_scaled AS score_scaled,
         row_number() OVER (PARTITION BY tf.doc_id
           ORDER BY tf.tf * df.idf_scaled DESC, tf.tok ASC) AS rn
  FROM tf JOIN df ON tf.tok = df.tok)
SELECT doc_id, CAST(rn AS BIGINT) AS rn, tok, tf, df, score_scaled
FROM scored WHERE rn <= 3 ORDER BY doc_id, rn"""))
  )

  /** (doc_id, n_bigrams, lm_score) for the whole corpus — the bigram-LM
    * scoring pipeline exposed for composition (the quality ensemble
    * consumes it alongside the classifier and heuristic scores).
    *
    * The (doc,pair) subtree is materialized once: both the corpus
    * bigram counts and the score join read it — without the checkpoint
    * the token-stream window would be scanned and shuffled twice
    * (column pruning makes the two subtrees unequal, so Catalyst
    * cannot reuse the exchange on its own). The per-pair c12 aggregate
    * uses groupBy, not a count window: map-side partial agg bounds the
    * per-pair reduce input by the mapper count — the skew-safe way to
    * count corpus bigrams (a count-window over the pair key would
    * hotspot on "of the").
    *
    * NO final round on lm_score: ll_scaled and n_bigrams are exact
    * integers in both engines, and the two IEEE divisions are
    * bit-identical — whereas round(·,4) of a true 4-decimal tie (e.g.
    * -754061/220000 = -3.42755) diverges, because DuckDB rounds the
    * double's shortest decimal form and Spark its exact binary
    * expansion.
    */
  private[queries] def lmScored(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val docPairs = graft.Caching.materialize(s, toks
      .withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"), col("tok").as("t1"), col("nxt").as("t2"))
      .agg(count(lit(1)).as("k")))
    val c12 = docPairs.groupBy("t1", "t2").agg(sum("k").as("c12"))
    docPairs
      .join(c12, Seq("t1", "t2"))
      .join(broadcast(uni.select(col("tok").as("t1"), col("c1"))), Seq("t1"))
      .crossJoin(broadcast(vocab))
      .withColumn("term", col("k") *
        expr("CAST(round(ln((c12 + 1.0) / (c1 + v)) * 10000, 0) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"), sum("term").as("ll_scaled"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("ll_scaled") / 10000.0 / col("n_bigrams")).as("lm_score"))
  }

  /** DuckDB CTE chain for [[lmScored]], ending in
    * `lm(doc_id, n_bigrams, lm_score)` (usable after `WITH `).
    */
  private[queries] val sqlLmScored: String = """sp AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
toks AS (
  SELECT doc_id, ts[i + 1] AS tok, i AS pos
  FROM sp, UNNEST(range(0, len(ts))) AS t(i)),
uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
vc AS (SELECT count(*) AS v FROM uni),
big AS (
  SELECT doc_id, tok AS t1, lead(tok, 1) OVER (PARTITION BY doc_id
           ORDER BY pos) AS t2
  FROM toks),
dp AS (SELECT doc_id, t1, t2, count(*) AS k FROM big
       WHERE t2 IS NOT NULL GROUP BY doc_id, t1, t2),
c AS (SELECT t1, t2, sum(k) AS c12 FROM dp GROUP BY t1, t2),
sc AS (
  SELECT dp.doc_id, dp.k,
         dp.k * CAST(round(ln((c.c12 + 1.0) / (u.c1 + vc.v)) * 10000, 0) AS BIGINT) AS term
  FROM dp JOIN c ON dp.t1 = c.t1 AND dp.t2 = c.t2
  JOIN uni u ON dp.t1 = u.tok CROSS JOIN vc),
lm AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         sum(term) / 10000.0 / sum(k) AS lm_score
  FROM sc GROUP BY doc_id)"""

  /** Append (n_tokens, wsum, score) classifier columns to any frame
    * with a `text` column — the SINGLE source of the model arithmetic,
    * shared by [[classifierScored]] (batch) and
    * [[graft.streaming.DocsStream.qualityGateTotals]] (streaming), so
    * a constant retune cannot leave one copy stale.
    */
  private[graft] def withClassifierScore(df: DataFrame): DataFrame =
    df.withColumn("n_tokens",
        size(split(col("text"), " ")).cast("long"))
      .withColumn("wsum", expr(
        "aggregate(split(text, ' '), 0L, " +
          "(a, x) -> a + pmod(tok_hash(concat('clsw_', x)), 2001) - 1000)"))
      .withColumn("z",
        lit(0.25) + col("wsum") / (col("n_tokens") * lit(1000.0)))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4))

  /** (doc_id, n_tokens, wsum, score) — the hashed linear classifier
    * exposed for composition; see text_quality_classifier's scaladoc
    * for the portability contract.
    */
  private[graft] def classifierScored(s: SparkSession, d: String)
      : DataFrame = {
    withClassifierScore(Tables.documents(s, d))
      .select(col("doc_id"), col("n_tokens"), col("wsum"), col("score"))
  }

  /** DuckDB twin of [[classifierScored]] as a CTE chain ending in
    * `cls(doc_id, n_tokens, wsum, score)`.
    */
  private[queries] val sqlClassifierScored: String = s"""clt AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(list_sum(list_transform(string_split(text, ' '),
      x -> ${TextHash.sqlTokenHash("'clsw_' || x")} % 2001 - 1000)) AS BIGINT) AS wsum
  FROM documents),
cls AS (SELECT doc_id, n_tokens, wsum,
          round(1.0 / (1.0 + exp(-(0.25 + wsum / (n_tokens * 1000.0)))), 4) AS score
        FROM clt)"""

  /** BM25 (k1=1.2, b=0.75) scores for the fixed 3-term query — shared
    * by text_bm25_topk and the hybrid RRF fusion
    * (SimilaritySearch.scala). Returns (doc_id, score), unlimited; the
    * callers rank/cut. Corpus stats are ONE 1-row aggregate broadcast
    * back; term contributions sum in a fixed written order so the
    * double is deterministic.
    */
  private[queries] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    def tf(t: String) =
      size(filter(toks, x => x === t)).cast("long")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        tf("vector").as("f1"), tf("stream").as("f2"),
        tf("merge").as("f3"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"),
      sum((col("f1") > 0).cast("long")).as("df1"),
      sum((col("f2") > 0).cast("long")).as("df2"),
      sum((col("f3") > 0).cast("long")).as("df3"))
    def idf(dfc: Column) =
      log((col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0))
    def wgt(f: Column) =
      f.cast("double") * lit(2.2) /
        (f.cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("score", round(
        idf(col("df1")) * wgt(col("f1")) +
          idf(col("df2")) * wgt(col("f2")) +
          idf(col("df3")) * wgt(col("f3")), 4))
      .select("doc_id", "score")
  }

  /** The DuckDB CTE fragment computing [[bm25Scored]] as `sc`. */
  private[queries] val bm25ScoredSql: String = """b AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
    len(list_filter(string_split(text, ' '), t -> t = 'vector'))::BIGINT AS f1,
    len(list_filter(string_split(text, ' '), t -> t = 'stream'))::BIGINT AS f2,
    len(list_filter(string_split(text, ' '), t -> t = 'merge'))::BIGINT AS f3
  FROM documents),
st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
              CAST(sum(CASE WHEN f1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
              CAST(sum(CASE WHEN f2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
              CAST(sum(CASE WHEN f3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
       FROM b),
sc AS (
  SELECT doc_id, round(
      ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
        * (f1 * 2.2 / (f1 + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
    + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
        * (f2 * 2.2 / (f2 + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
    + ln((n_docs - df3 + 0.5) / (df3 + 0.5) + 1.0)
        * (f3 * 2.2 / (f3 + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))), 4) AS score
  FROM b CROSS JOIN st)"""
}
