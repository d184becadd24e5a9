package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash

/** SURVEY.md §2.8 — scalar functions (F1–F10).
  *
  * All stay inside whole-stage codegen (built-ins or native expressions);
  * the only JVM UDF is the engine-portable rolling hash (F7), which is
  * deliberately reproducible in DuckDB SQL (see TextHash).
  */
/** The canonical pinned instant for deterministic-clock runs: Verify sets
  * `spark.graft.now` to this value, so f10's oracle SQL can embed the
  * identical literal and the hash compare closes. Interpreted in the
  * session time zone (UTC for verification runs).
  */
object PinnedClock {
  val Now = "2026-01-01 00:00:00"
}

object Functions {

  def qs: Seq[Q] = Seq(
    // F1 id repair: first digit-run extracted and prefixed
    // (tanimoto.py:70-80) — regexp_extract + concat, no UDF
    Q("f1_id_repair",
      (s, d) => Tables.documents(s, d)
        .withColumn("raw_name", concat(col("source"), lit("_"), col("doc_id")))
        .withColumn("repaired",
          concat(lit("CHEMBL"), regexp_extract(col("raw_name"), "([0-9]+)", 1)))
        .select("doc_id", "raw_name", "repaired")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source || '_' || doc_id AS raw_name,
                     'CHEMBL' || regexp_extract(source || '_' || doc_id, '([0-9]+)', 1) AS repaired
              FROM documents ORDER BY doc_id""")),

    // F2/F3 ABS + float-tolerance compare as derived columns
    // (views_p1.py:22,36; datamart.py:33-38)
    Q("f2_f3_abs_tolerance",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.03).as("dist"),
          (abs(col("l_discount") - 0.03) < 1e-9).as("is_close"))
        .orderBy("l_orderkey", "l_linenumber", "dist"),
      Some("""SELECT l_orderkey, l_linenumber,
                     abs(l_discount - 0.03) AS dist,
                     abs(l_discount - 0.03) < 1e-9 AS is_close
              FROM lineitem ORDER BY l_orderkey, l_linenumber, dist""")),

    // F4/F5 base64 encode/decode round trip (mpp.py:87, tanimoto.py:98-102)
    Q("f4_f5_base64_roundtrip",
      (s, d) => Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        // Spark's base64 MIME-chunks every 76 chars with CRLF; strip the
        // chunking so the output matches RFC4648 'basic' (what DuckDB emits)
        .select(col("doc_id"),
          regexp_replace(base64(encode(col("text"), "UTF-8")), "[\\r\\n]", "")
            .as("b64"),
          decode(unbase64(base64(encode(col("text"), "UTF-8"))), "UTF-8").as("back"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, to_base64(encode(text)) AS b64,
                     decode(from_base64(to_base64(encode(text)))) AS back
              FROM documents WHERE doc_id < 100 ORDER BY doc_id""")),

    // F6 fallible parse -> null -> filter (mpp.py:64-73 pattern) on JSON:
    // every 7th props string is truncated to simulate malformed input
    Q("f6_fallible_parse",
      (s, d) => Tables.events(s, d)
        .withColumn("raw",
          when(col("event_id") % 7 === 0, substring(col("props"), 1, 3))
            .otherwise(col("props")))
        .withColumn("k", get_json_object(col("raw"), "$.k").cast("long"))
        .filter(col("k").isNotNull)
        .select("event_id", "k")
        .orderBy("event_id"),
      Some("""SELECT event_id, k FROM (
                SELECT event_id,
                       CASE WHEN json_valid(raw)
                            THEN CAST(json_extract_string(raw, '$.k') AS BIGINT)
                       END AS k
                FROM (SELECT event_id,
                             CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 3)
                                  ELSE props END AS raw
                      FROM events))
              WHERE k IS NOT NULL ORDER BY event_id""")),

    // F7 deterministic feature hash: token -> bucket histogram per doc —
    // the Morgan-fingerprint pattern (mpp.py:81-93) as a sparse
    // fixed-width vectorization
    Q("f7_feature_hash",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), (expr("tok_hash(tok)") % 16).as("bucket"))
          .groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "bucket")
      },
      Some(s"""SELECT doc_id, bucket, count(*) AS cnt FROM (
                SELECT doc_id, ${TextHash.sqlTokenHash("tok")} % 16 AS bucket
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents))
              GROUP BY doc_id, bucket ORDER BY doc_id, bucket""")),

    // F8 Tanimoto similarity over real-valued vectors:
    // dot / (|a|^2 + |b|^2 - dot) (tanimoto.py:138-139), native kernel
    Q("f8_tanimoto",
      (s, d) => {
        val emb = Tables.embeddings(s, d).filter(col("vec_id") < 100)
        val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        a.crossJoin(b).filter(col("a_id") < col("b_id"))
          .withColumn("dot", expr("dot_f(a_emb, b_emb)"))
          .withColumn("tanimoto",
            round(col("dot") /
              (expr("dot_f(a_emb, a_emb)") + expr("dot_f(b_emb, b_emb)") - col("dot")), 6))
          .select("a_id", "b_id", "tanimoto")
          .orderBy("a_id", "b_id")
      },
      Some("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i])) AS dot,
         list_sum(list_transform(a.v, x -> x*x)) AS na,
         list_sum(list_transform(b.v, x -> x*x)) AS nb
  FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id
)
SELECT a_id, b_id, round(dot / (na + nb - dot), 6) AS tanimoto
FROM p ORDER BY a_id, b_id""")),

    // F9 string concat / path formatting (tanimoto.py:132)
    Q("f9_format_paths",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          format_string("similarity_%s_%d.parquet", col("source"), col("doc_id"))
            .as("path"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, printf('similarity_%s_%d.parquet', source, doc_id) AS path
              FROM documents ORDER BY doc_id""")),

    // Higher-order array functions over the embedding column — filter/
    // transform/aggregate/array_position where they BELONG: a map-only
    // projection whose lambdas never leave the row. (Contrast the
    // shingle pitfall in SCALE.md, where an optimizer rule cloned a
    // HOF lambda into an inferred filter and went quadratic — HOFs are
    // the right tool here and the wrong one there; knowing which is
    // which is the point.) Sequential left-fold accumulation matches
    // DuckDB's list_* semantics; round(...,6) pins the comparison.
    Q("f11_array_hofs",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") % 40 === 0)
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0f))
            .cast("long").as("n_pos"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + abs(x.cast("double"))), 6).as("l1"),
          round(array_max(transform(col("embedding"),
            x => abs(x.cast("double")))), 6).as("max_abs"),
          array_position(transform(col("embedding"), x => x < 0f), true)
            .as("first_neg"))
        .orderBy("vec_id"),
      Some("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id % 40 = 0)
SELECT vec_id,
       len(list_filter(v, x -> x > 0))::BIGINT AS n_pos,
       round(list_sum(list_transform(v, x -> abs(x))), 6) AS l1,
       round(list_max(list_transform(v, x -> abs(x))), 6) AS max_abs,
       coalesce(list_position(list_transform(v, x -> x < 0), true), 0)::BIGINT AS first_neg
FROM e ORDER BY vec_id""")),

    // Positional explode (beyond the ∅-list): posexplode keeps the
    // array index alongside the element — the schema every
    // tokenize-then-realign pipeline needs (the index is what lets a
    // downstream stage reassemble or window over token positions).
    // Lateral explode multiplies rows ~60× here; at 100 TB the
    // pre-explode projection (only doc_id + the array) is what keeps
    // the shuffle mass bounded — asserted by the pruned ReadSchema.
    Q("f13_posexplode_tokens",
      (s, d) => Tables.documents(s, d)
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .filter(length(col("tok")) >= 6)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
        .orderBy("doc_id", "pos"),
      Some("""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           WHERE doc_id % 50 = 0)
SELECT doc_id, i AS pos, toks[i + 1] AS tok
FROM w, UNNEST(range(0, len(toks))) AS t(i)
WHERE len(toks[i + 1]) >= 6
ORDER BY doc_id, pos""")),

    // String-function gallery (beyond the ∅-list): the edit-distance /
    // padding / character-mapping battery every normalization pipeline
    // leans on. levenshtein is the notable one — a native codegen'd
    // dynamic-program per row, the building block of typo-tolerant
    // matching (pair it with a15-style blocking before using it at
    // scale; edit distance on unblocked pairs is the quadratic trap).
    Q("f14_string_gallery",
      (s, d) => Tables.part(s, d)
        .filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("p_type")).cast("long").as("lev"),
          lpad(col("p_brand"), 12, "#").as("padded"),
          translate(col("p_name"), "aeiou", "AEIOU").as("xlated"),
          split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
          reverse(col("p_brand")).as("rev"))
        .orderBy("p_partkey"),
      Some("""
SELECT p_partkey,
       CAST(levenshtein(p_name, p_type) AS BIGINT) AS lev,
       lpad(p_brand, 12, '#') AS padded,
       translate(p_name, 'aeiou', 'AEIOU') AS xlated,
       split_part(p_name, ' ', 1) AS first_word,
       reverse(p_brand) AS rev
FROM part WHERE p_partkey % 20 = 0 ORDER BY p_partkey""")),

    // Datetime-function gallery (beyond the ∅-list): interval
    // arithmetic, calendar boundaries, day counting, weekday
    // extraction — the date-dimension derivations of every mart.
    // Engine conventions differ on weekday numbering (Spark
    // 1=Sunday…7, DuckDB 0=Sunday…6), normalized in the oracle — the
    // kind of cross-engine trap the oracle gate exists to catch.
    Q("f15_datetime_gallery",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") % 40 === 0)
        .select(col("o_orderkey"),
          // TIMESTAMP not DATE: pandas (the driver's compare layer)
          // renders SQL DATE as midnight Timestamp, parquet DATE as
          // datetime.date — same instant, unequal objects
          last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long")
            .as("days_since_epoch0"),
          (col("o_orderdate") + expr("INTERVAL 10 DAYS")).as("plus_10d"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"))
        .orderBy("o_orderkey"),
      Some("""
SELECT o_orderkey,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_epoch0,
       o_orderdate + INTERVAL 10 DAY AS plus_10d,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
FROM orders WHERE o_orderkey % 40 = 0 ORDER BY o_orderkey""")),

    // try_* error-handling gallery (beyond the ∅-list): the ANSI-mode
    // survival kit — malformed casts, division by zero, out-of-range
    // array access each yield NULL instead of killing the job. At
    // 100 TB a single poisoned row must never fail a stage; try_*
    // keeps ANSI semantics everywhere else. (F6 is the from_json
    // cousin; this covers the scalar arithmetic surface.)
    Q("f16_try_functions",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("try_cast(concat(l_orderkey, " +
            "CASE WHEN l_linenumber % 3 = 0 THEN 'x' ELSE '' END) AS BIGINT)")
            .as("maybe_id"),
          try_divide(col("l_quantity"), col("l_linenumber") - 1)
            .as("per_prior_line"),
          try_element_at(split(col("l_returnflag"), ""), lit(5))
            .as("oob_char"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""
SELECT l_orderkey, l_linenumber,
       TRY_CAST(CAST(l_orderkey AS VARCHAR) ||
                CASE WHEN l_linenumber % 3 = 0 THEN 'x' ELSE '' END AS BIGINT)
         AS maybe_id,
       l_quantity / NULLIF(l_linenumber - 1, 0) AS per_prior_line,
       string_split(l_returnflag, '')[5] AS oob_char
FROM lineitem WHERE l_orderkey % 100 = 0
ORDER BY l_orderkey, l_linenumber""")),

    // F10 timestamp-defaulted state rows (tanimoto.py:51-54).
    // current_timestamp() is inherently nondeterministic, so the clock is
    // pinnable: when spark.graft.now is set (ISO "yyyy-MM-dd HH:mm:ss",
    // interpreted in the session time zone) every state row carries that
    // instant — same semantics as the reference's TIMESTAMP DEFAULT
    // current_timestamp, but deterministic, which lets the oracle pin the
    // identical literal. Unset → live clock, the production behavior.
    Q("f10_state_timestamp",
      (s, d) => {
        val usedAt = s.conf.getOption("spark.graft.now")
          .map(ts => to_timestamp(lit(ts)))
          .getOrElse(current_timestamp())
        Tables.events(s, d)
          .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("file"))
          .distinct()
          // string at the compare boundary, like every timestamp column in
          // Events: the oracle emits the identical text
          .withColumn("used_at", date_format(usedAt, "yyyy-MM-dd HH:mm:ss"))
          .orderBy("file")
      },
      Some(s"""SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS file,
                      strftime(TIMESTAMP '${PinnedClock.Now}', '%Y-%m-%d %H:%M:%S') AS used_at
               FROM events ORDER BY file"""))
  )
}
