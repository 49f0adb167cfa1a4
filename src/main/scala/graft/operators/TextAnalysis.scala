package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-analysis operators over `documents` (builder brief; SURVEY.md §2C):
  * token counting, quality scoring, language-ID heuristic, fingerprinting.
  *
  * All are embarrassingly parallel scalar pipelines — no shuffle at all
  * except where a final aggregate is the point. At 100 TB these run as a
  * single scan stage inside whole-stage codegen; every function below is a
  * built-in `org.apache.spark.sql.functions` expression (or a native
  * Catalyst expression, see [[graft.functions.RollingHash]]), never a UDF.
  *
  * Float determinism: every ratio is a single division of exactly-computed
  * integer counts, so the DuckDB oracle values are bit-identical.
  */
object TextAnalysis {

  /** The TR39 single-codepoint Latin-confusable map (Unicode UTS #39
    * confusables, restricted to Cyrillic + Greek letters whose
    * canonical confusable is exactly ONE Latin letter — the set a
    * static `translate` can fold): 14 Cyrillic lowercase, 18 Cyrillic
    * uppercase, 8 Greek lowercase, 14 Greek uppercase. `src(i)` folds
    * to `dst(i)`; `srcSqlExpr` is the same source string as DuckDB
    * `chr()` concatenation (the oracle-side transport that dodges any
    * non-ASCII mojibake through the SQL dump). */
  private[graft] object Confusables {
    // Cyrillic lowercase: а е о р с у х ѕ і ј һ ԁ ԛ ԝ
    private val cyrLo = "аеорсух" +
      "ѕіјһԁԛԝ"
    private val cyrLoLat = "aeopcyxsijhdqw"
    // Cyrillic uppercase: А В Е К М Н О Р С Т У Х Ѕ І Ј Ѵ Ԛ Ԝ
    private val cyrUp = "АВЕКМНО" +
      "РСТУХЅІЈѴԚԜ"
    private val cyrUpLat = "ABEKMHOPCTYXSIJVQW"
    // Greek lowercase: α γ ι ν ο ρ τ υ
    private val grLo = "αγινορτυ"
    private val grLoLat = "ayivoptu"
    // Greek uppercase: Α Β Ε Ζ Η Ι Κ Μ Ν Ο Ρ Τ Υ Χ
    private val grUp = "ΑΒΕΖΗΙΚ" +
      "ΜΝΟΡΤΥΧ"
    private val grUpLat = "ABEZHIKMNOPTYX"

    val src: String = cyrLo + cyrUp + grLo + grUp
    val dst: String = cyrLoLat + cyrUpLat + grLoLat + grUpLat
    require(src.length == dst.length)

    /** `chr(N) || chr(N) || ...` building `src` in DuckDB. */
    val srcSqlExpr: String =
      src.map(c => s"chr(${c.toInt})").mkString(" || ")
  }

  private val stopwords = Seq("the", "a", "or", "and", "of", "in", "to")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  // ----- shared BPE merge chain (text_bpe_apply + text_token_fertility) ---
  // One Scala merge list generates BOTH engines' expression chains, so
  // the tokenizer and every audit built on it cannot drift. Encoding:
  // per-char spacing with '|' word gaps (' k e y | a g g '); a merge
  // (a,b)->ab is replace(" a b ", " ab ") applied twice (single-pass
  // replace is non-overlapping left-to-right; the second pass catches
  // occurrences whose leading space the previous match consumed).
  private val bpeMerges = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "s" -> "t", "o" -> "r",
    "t" -> "a", "a" -> "l", "u" -> "e", "ta" -> "b", "al" -> "ue")
  private def applyBpeMerges(base: String): String =
    bpeMerges.foldLeft(base) { case (acc, (a, b)) =>
      val (pat, rep) = (s" $a $b ", s" $a$b ")
      s"replace(replace($acc, '$pat', '$rep'), '$pat', '$rep')"
    }
  private val sparkEnc =
    applyBpeMerges(
      "concat(' ', regexp_replace(replace(text, ' ', '|'), '(.)', '$1 '))")
  private val duckEnc =
    applyBpeMerges(
      "concat(' ', regexp_replace(replace(text, ' ', '|'), '(.)', '\\1 ', 'g'))")

  /** Constant oracle for text_bpe_train: the merge sequence is a pure
    * function of the fixture formulas, replayed here over the same
    * [[BpeTrain.shardText]] word stream (the INDEPENDENT check is
    * tools/bpe_oracle.py, which BpeTrainSpec runs over the actual
    * archive bytes with CPython's own zipfile + Counter). */
  private lazy val bpeTrainOracle: String = {
    val words = (0 until BpeTrain.NShards)
      .flatMap(i => BpeTrain.shardText(i).split(" "))
    val dict = words.groupBy(identity)
      .map { case (w, g) => (w, g.size.toLong) }
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(200)
    val rows = BpeTrain.train(dict, 40).zipWithIndex.map {
      case ((a, b, c), i) => s"(${i + 1}, '$a', '$b', '${a + b}', $c)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.step AS INT) AS step,
        CAST(v.lhs AS VARCHAR) AS lhs,
        CAST(v.rhs AS VARCHAR) AS rhs,
        CAST(v.merged AS VARCHAR) AS merged,
        CAST(v.pair_count AS BIGINT) AS pair_count
        FROM (VALUES $rows) AS v(step, lhs, rhs, merged, pair_count)"""
  }

  /** Minimum match length (chars) for text_repeat_spans. Lee et al. use
    * 50 BPE tokens on web text; 25 chars keeps the same "long enough to
    * be mechanical, not idiomatic" intent at this corpus's ~300-char
    * documents. */
  private val RepeatSpanL = 25

  // Both span queries (text_repeat_spans, text_strip_repeat_spans) share
  // one span build per dataset, memoized in [[graft.Memo]] (family
  // "spans"): ONE cached gram relation and ONE cached span relation per
  // dataset, both lazy — the first consumer materializes them in a
  // single pass (an eager count here would pay the whole sweep twice:
  // once to materialize, once for the caller's own action — measured
  // 2.1x on the bench). Repeated invocations no longer leak per-call
  // cached copies; a release unpersists both relations.
  // The gram relation is scaffolding: once the span relation's cached
  // buffers are loaded it is dead weight, so each access checks the
  // cache manager and drops it (pinning a corpus-sized relation for
  // process lifetime would re-introduce the round-9 leak per-dataset).
  private final case class SpanMemo(grams: org.apache.spark.sql.DataFrame,
      spans: org.apache.spark.sql.DataFrame,
      unpinned: java.util.concurrent.atomic.AtomicBoolean)

  /** True once `df`'s in-memory buffers have actually materialized (an
    * action ran), not merely been registered with the cache manager. */
  private def cacheLoaded(df: org.apache.spark.sql.DataFrame): Boolean =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder
        .isCachedColumnBuffersLoaded)
  /** Test hook: is the memoized gram relation for `d` still pinned? */
  private[graft] def gramRelationPinned(d: String): Boolean =
    graft.Memo.peek[SpanMemo]("spans", d).exists(!_.unpinned.get())
  private def repeatSpansDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val memo = graft.Memo.releasing(s, "spans", "spans", d,
      s"$d/documents.parquet", (m: SpanMemo) => {
        m.grams.unpersist(); m.spans.unpersist()
      }) {
      val grams = repeatGramsDf(s, d).cache()
      SpanMemo(grams, repeatSpansFromGrams(s, grams).cache(),
        new java.util.concurrent.atomic.AtomicBoolean(false))
    }
    if (!memo.unpinned.get() && cacheLoaded(memo.spans)
        && memo.unpinned.compareAndSet(false, true))
      memo.grams.unpersist()
    memo.spans
  }

  private def repeatGramsDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val L = RepeatSpanL
    // Spread.byKey: the per-position md5 gram explode amplifies each
    // document ~|text| times; without the spread it serializes on the
    // single-file scan partition (round-17 measurement: 2.8 s of the
    // 4.2 s query on one task)
    Spread.byKey(Tables.documents(s, d), "doc_id")
      // guard: Spark's sequence(1, 0) DESCENDS, so sub-L-char docs
      // must be dropped before the position explode
      .filter(length($"text") >= L)
      .select($"doc_id",
        explode(expr(s"sequence(1, length(text) - ${L - 1})"))
          .as("p"),
        $"text")
      .select($"doc_id", $"p".cast("long").as("pos"),
        // fused md5-prefix (round 18): bit-identical to
        // conv(substring(md5(...), 1, 15), 16, 10) without the hex/
        // decimal string round-trips — this runs once per position
        graft.functions.Md5Prefix.md5_prefix(
          expr(s"substring(text, p, $L)"), 15).as("g"))
  }

  /** The maximal cross-document duplicated spans per document — the
    * relation behind text_repeat_spans (detection) AND
    * text_strip_repeat_spans (the actual removal intervention). Output
    * spans are DISJOINT per document (round-9 overlap merge), which is
    * what makes the strip a simple between-spans concatenation. */
  private def repeatSpansFromGrams(s: org.apache.spark.sql.SparkSession,
      grams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val L = RepeatSpanL
    // Round-18 shape A/B (kept: this two-branch form). The gram cache
    // is consumed by two branches (this agg → AQE broadcast stage, and
    // the hits probe), and profiling shows both stages run the gram
    // explode — the lazy cache races instead of deduplicating. Two
    // attempted fixes both measured SLOWER at sf0.1: an eager
    // materializing count() serializes the two passes (1.11 s → 1.59 s
    // profiled min), and routing both consumers through one explicit
    // repartition(g) exchange was not reused across the self-join's
    // deduplicated subtrees — it shuffled the full gram relation twice
    // (41.7 MB reads + SMJ sorts, 1.69 s). The duplicate explode is
    // wall-parallel (the branches pipeline on idle cores), so the
    // original shape stands; measurements in OPTIMIZATION_r18.md.
    val crossDoc = grams.groupBy($"g")
      .agg(min($"doc_id").as("dmin"), max($"doc_id").as("dmax"))
      .filter($"dmin" =!= $"dmax")
      .select($"g")
    val hits = grams.join(crossDoc, "g")
      .select($"doc_id", $"pos")
    val wd = Window.partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("brk",
        when(lag($"pos", 1).over(wd).isNull ||
          $"pos" - lag($"pos", 1).over(wd) >= L, lit(1))
          .otherwise(lit(0)))
      .withColumn("grp", sum($"brk").over(wd))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + lit(L - 1)).cast("long").as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_len"))
  }

  /** Shared oracle CTE prefix producing the per-doc span relation
    * (doc_id, span_start, span_end) — consumed by both span queries'
    * oracles so code and SQL can never disagree on the span rule. */
  private def repeatSpansCtes: String =
    s"""gr AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          CAST('0x' || substr(md5(substr(text, i, $RepeatSpanL)), 1, 15)
            AS BIGINT) AS g
        FROM documents,
          LATERAL (SELECT unnest(generate_series(
            1, length(text) - ${RepeatSpanL - 1})) AS i)
        WHERE length(text) >= $RepeatSpanL),
      flagged AS (
        SELECT doc_id, pos,
          min(doc_id) OVER (PARTITION BY g) AS dmin,
          max(doc_id) OVER (PARTITION BY g) AS dmax
        FROM gr),
      hits AS (SELECT doc_id, pos FROM flagged WHERE dmin <> dmax),
      brks AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER w IS NULL
               OR pos - lag(pos) OVER w >= $RepeatSpanL THEN 1
             ELSE 0 END AS brk
        FROM hits
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      isl AS (SELECT doc_id, pos,
        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM brks),
      spans AS (SELECT doc_id, min(pos) AS span_start,
        max(pos) + ${RepeatSpanL - 1} AS span_end
        FROM isl GROUP BY doc_id, grp)"""

  /** The quality-gate transform on any (doc_id, text) relation — written
    * once, runs identically in batch and as a stateless streaming stage
    * (per-row expressions only; EventStreamsSpec drives it through a real
    * stream). */
  private[graft] def qualityGate(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), length(col("text")).as("nc"),
        split(lower(col("text")), "\\s+").as("ws"))
      .selectExpr("doc_id",
        "size(ws) AS n_tokens",
        """CAST(array_max(transform(array_distinct(ws),
             w -> size(filter(ws, x -> x = w)))) AS DOUBLE)
           / CAST(size(ws) AS DOUBLE) AS top_word_frac""",
        """CAST(size(ws) - size(array_distinct(ws)) AS DOUBLE)
           / CAST(size(ws) AS DOUBLE) AS dup_word_frac""",
        "CAST(nc AS DOUBLE) / CAST(size(ws) AS DOUBLE) AS chars_per_token")
      .selectExpr("doc_id", "n_tokens", "top_word_frac",
        "dup_word_frac", "chars_per_token",
        """CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN top_word_frac > 0.2 THEN 'top_word'
                WHEN dup_word_frac > 0.6 THEN 'dup_words'
                WHEN chars_per_token > 6.0 THEN 'word_len'
                ELSE 'ok' END AS reason""")
      .selectExpr("doc_id", "n_tokens", "top_word_frac",
        "dup_word_frac", "chars_per_token",
        "reason = 'ok' AS keep", "reason")

  /** Winnowing fingerprint selection (see the text_winnow_fingerprint
    * doc comment for the algorithm) — shared by the fingerprint query
    * and the shared-fingerprint match join. */
  private def winnowFingerprints(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // spread before the per-gram md5 explode (see Spread doc)
    val grams = Spread.byKey(Tables.documents(s, d), "doc_id")
      .select($"doc_id", split(lower($"text"), "\\s+").as("t"))
      // guard: Spark's sequence(1, 0) DESCENDS, so sub-3-token docs
      // must yield an empty gram list explicitly
      .select($"doc_id", posexplode(expr(
        "CASE WHEN size(t) >= 3 THEN " +
          "transform(sequence(1, size(t) - 2), " +
          "i -> concat_ws(' ', t[i-1], t[i], t[i+1])) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select($"doc_id", ($"pos" + 1).cast("int").as("pos"),
        graft.functions.Md5Prefix.md5_prefix($"col", 8).as("h"))
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    def pmin(a: Int) = min($"h").over(byPos.rowsBetween(-a, -1))
    def nmin(b: Int) = min($"h").over(byPos.rowsBetween(1, b))
    grams
      .withColumn("m", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .withColumn("sel",
        ($"pos" + 3 <= $"m" && nmin(3) > $"h") ||
        ($"pos" >= 2 && $"pos" + 2 <= $"m" &&
          pmin(1) >= $"h" && nmin(2) > $"h") ||
        ($"pos" >= 3 && $"pos" + 1 <= $"m" &&
          pmin(2) >= $"h" && nmin(1) > $"h") ||
        ($"pos" >= 4 && pmin(3) >= $"h"))
      .filter($"sel")
      .select($"doc_id", $"pos", $"h".as("fp_hash"))
  }

  /** DuckDB twin of [[winnowFingerprints]] (also the CTE body of the
    * match-join oracle). */
  private lazy val winnowSql: String =
    """SELECT doc_id, pos, h AS fp_hash FROM (
          SELECT doc_id, pos, h,
            COUNT(*) OVER (PARTITION BY doc_id) AS m,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pmin1,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pmin2,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pmin3,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nmin1,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nmin2,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nmin3
          FROM (
            SELECT doc_id, CAST(i AS INT) AS pos,
              CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' ||
                t[i+2]), 1, 8) AS BIGINT) AS h
            FROM (
              SELECT doc_id, t,
                unnest(generate_series(1, GREATEST(len(t) - 2, 0))) AS i
              FROM (SELECT doc_id,
                      string_split_regex(lower(text), '\s+') AS t
                    FROM documents))))
        WHERE (pos + 3 <= m AND nmin3 > h)
           OR (pos >= 2 AND pos + 2 <= m AND pmin1 >= h AND nmin2 > h)
           OR (pos >= 3 AND pos + 1 <= m AND pmin2 >= h AND nmin1 > h)
           OR (pos >= 4 AND pmin3 >= h)"""

  /** The decorated-document rule battery relation (per-doc stats +
    * per-rule flags + AND'd keep) — shared by text_gopher_rules and
    * the pipeline_filter_funnel attrition report. */
  private def gopherFlags(s: SparkSession, d: String): DataFrame = {

        Tables.documents(s, d)
          .selectExpr("doc_id", "split(lower(text), ' ') AS ws")
          .selectExpr("doc_id", """
            transform(ws, (w, i) ->
              CASE WHEN doc_id % 19 = 6 AND i % 2 = 0 THEN 'a'
                   WHEN doc_id % 7 = 1 AND i % 6 = 5 THEN '#'
                   WHEN doc_id % 9 = 3 AND i % 4 = 3 THEN '12345'
                   ELSE w END) AS dw""")
          .selectExpr("doc_id", "dw", """
            transform(sequence(0, (size(dw) - 1) div 8), L ->
              concat(
                CASE WHEN doc_id % 15 = 5
                       OR (doc_id % 5 = 0 AND L % 3 = 0)
                     THEN '- ' ELSE '' END,
                array_join(slice(dw, L * 8 + 1, 8), ' '),
                CASE WHEN doc_id % 6 = 2 AND L % 2 = 1
                     THEN '...' ELSE '' END)) AS dlines""")
          .selectExpr("doc_id",
            "size(dw) AS n_words",
            "aggregate(dw, 0, (a, w) -> a + length(w)) AS sum_wlen",
            "size(filter(dw, w -> w rlike '[a-z]')) AS n_alpha",
            "size(filter(dw, w -> w = '#')) AS n_hash",
            "size(dlines) AS n_lines",
            "size(filter(dlines, l -> left(l, 2) = '- ')) AS n_bullet",
            "size(filter(dlines, l -> right(l, 3) = '...')) AS n_ellipsis",
            """(CASE WHEN array_contains(dw, 'the') THEN 1 ELSE 0 END
              + CASE WHEN array_contains(dw, 'a') THEN 1 ELSE 0 END)
              AS n_stop_present""")
          .selectExpr("*",
            "n_words BETWEEN 50 AND 100000 AS flag_words",
            "3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words" +
              " AS flag_wlen",
            "10 * n_hash <= n_words AS flag_symbol",
            "5 * n_alpha >= 4 * n_words AS flag_alpha",
            "10 * n_bullet <= 9 * n_lines AS flag_bullets",
            "10 * n_ellipsis <= 3 * n_lines AS flag_ellipsis",
            "n_stop_present >= 2 AS flag_stop")
          .selectExpr("*",
            "flag_words AND flag_wlen AND flag_symbol AND flag_alpha" +
              " AND flag_bullets AND flag_ellipsis AND flag_stop AS keep")
      }

  /** The decorated-document oracle CTE chain (w0..flags) — shared by
    * text_gopher_rules and pipeline_filter_funnel so the rule math
    * cannot drift between the battery and its funnel report. */
  private lazy val gopherCtes: String = """w0 AS (
          SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents),
        w1 AS (
          SELECT doc_id,
            [CASE WHEN doc_id % 19 = 6 AND (i - 1) % 2 = 0 THEN 'a'
                  WHEN doc_id % 7 = 1 AND (i - 1) % 6 = 5 THEN '#'
                  WHEN doc_id % 9 = 3 AND (i - 1) % 4 = 3 THEN '12345'
                  ELSE ws[i] END
             FOR i IN generate_series(1, len(ws))] AS dw
          FROM w0),
        w2 AS (
          SELECT doc_id, dw,
            [(CASE WHEN doc_id % 15 = 5
                     OR (doc_id % 5 = 0 AND L % 3 = 0)
                   THEN '- ' ELSE '' END)
             || array_to_string(dw[L * 8 + 1 : L * 8 + 8], ' ')
             || (CASE WHEN doc_id % 6 = 2 AND L % 2 = 1
                      THEN '...' ELSE '' END)
             FOR L IN generate_series(0, (len(dw) - 1) // 8)] AS dlines
          FROM w1),
        stats AS (
          SELECT doc_id,
            CAST(len(dw) AS INT) AS n_words,
            CAST(list_sum([length(w) FOR w IN dw]) AS INT) AS sum_wlen,
            CAST(len([w FOR w IN dw IF regexp_matches(w, '[a-z]')])
              AS INT) AS n_alpha,
            CAST(len([w FOR w IN dw IF w = '#']) AS INT) AS n_hash,
            CAST(len(dlines) AS INT) AS n_lines,
            CAST(len([l FOR l IN dlines IF left(l, 2) = '- '])
              AS INT) AS n_bullet,
            CAST(len([l FOR l IN dlines IF right(l, 3) = '...'])
              AS INT) AS n_ellipsis,
            CAST((CASE WHEN list_contains(dw, 'the') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(dw, 'a') THEN 1 ELSE 0 END)
              AS INT) AS n_stop_present
          FROM w2),
        flags AS (
          SELECT *,
            n_words BETWEEN 50 AND 100000 AS flag_words,
            3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
              AS flag_wlen,
            10 * n_hash <= n_words AS flag_symbol,
            5 * n_alpha >= 4 * n_words AS flag_alpha,
            10 * n_bullet <= 9 * n_lines AS flag_bullets,
            10 * n_ellipsis <= 3 * n_lines AS flag_ellipsis,
            n_stop_present >= 2 AS flag_stop
          FROM stats)"""

  /** RFC 3986 §6 URL canonicalization + the crawl-hygiene extras
    * every web pipeline runs before URL-level dedup (CCNet/RefinedWeb
    * style): lowercase scheme and host, drop the scheme's default
    * port, resolve `.`/`..` path segments (§5.2.4), drop the
    * fragment, strip `utm_*` tracking parameters, sort what remains,
    * and normalize an empty path to "/". Pure function — runs as a
    * per-row projection, no UDF registry needed for the query path. */
  object UrlCanon extends Serializable {
    /** §6.2.2.2/.3: decode percent-escapes of UNRESERVED octets
      * (ALPHA / DIGIT / - . _ ~) and uppercase the hex of the rest. */
    private def pctNormalize(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          val v = Integer.parseInt(s.substring(i + 1, i + 3), 16)
          val ch = v.toChar
          if (v < 128 && (ch.isLetter || ch.isDigit ||
              "-._~".indexOf(ch.toInt) >= 0)) sb.append(ch)
          else sb.append('%')
            .append(s.substring(i + 1, i + 3)
              .toUpperCase(java.util.Locale.ROOT))
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    def normalize(raw: String): String = {
      val noFrag = raw.indexOf('#') match {
        case -1 => raw
        case h => raw.substring(0, h)
      }
      val sep = noFrag.indexOf("://")
      require(sep > 0, s"not an absolute URL: '$raw'")
      val scheme = noFrag.substring(0, sep).toLowerCase(java.util.Locale.ROOT)
      val rest = noFrag.substring(sep + 3)
      val pathStart = rest.indexOf('/') match {
        case -1 => rest.length
        case p => p
      }
      val qStartInAuth = rest.indexOf('?') match {
        case -1 => rest.length
        case q => q
      }
      val authEnd = math.min(pathStart, qStartInAuth)
      var auth = rest.substring(0, authEnd).toLowerCase(java.util.Locale.ROOT)
      val defaultPort = scheme match {
        case "http" => ":80"
        case "https" => ":443"
        case _ => "\u0000"
      }
      if (auth.endsWith(defaultPort))
        auth = auth.substring(0, auth.length - defaultPort.length)
      val tail = rest.substring(authEnd)
      val (pathRaw0, queryRaw0) = tail.indexOf('?') match {
        case -1 => (tail, "")
        case q => (tail.substring(0, q), tail.substring(q + 1))
      }
      // percent-normalize BEFORE dot-segment removal (a %2E segment is
      // a dot segment per §6.2.2.3)
      val pathRaw = pctNormalize(pathRaw0)
      val queryRaw = pctNormalize(queryRaw0)
      // remove_dot_segments (RFC 3986 §5.2.4) over the path
      val out = new scala.collection.mutable.ArrayBuffer[String]
      pathRaw.split("/", -1).foreach {
        case "." => ()
        case ".." => if (out.nonEmpty) out.remove(out.length - 1)
        case seg => out += seg
      }
      val path = out.filter(_.nonEmpty).mkString("/", "/", "")
      // tracking-parameter strip + stable parameter order
      val params = queryRaw.split("&").filter(_.nonEmpty)
        .filterNot(_.toLowerCase(java.util.Locale.ROOT).startsWith("utm_"))
        .sorted
      val query = if (params.isEmpty) "" else params.mkString("?", "&", "")
      s"$scheme://$auth$path$query"
    }
  }

  val defs: Seq[Q] = Seq(

    // ----- URL canonicalization (crawl-hygiene dedup key) ------------------
    // The step every web pipeline runs before URL-level dedup: three
    // messy variants of every page's URL — cased scheme/host, an
    // explicit default port behind a ../ dot segment, and a
    // tracking-parameter + fragment form — must collapse to ONE
    // canonical URL. The oracle knows only the page formula and the
    // EXPECTED canonical string (the pcap constant-oracle pattern), so
    // the row matches only if case folding, port dropping, dot-segment
    // resolution (§5.2.4), utm-stripping, and fragment removal all
    // land exactly. Scale: per-row projection + one groupBy on doc_id.
    Q("text_url_canonicalize",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d).select($"doc_id").as[Long]
          .flatMap { id =>
            val site = id % 50
            Seq(
              s"HTTP://Site$site.EXAMPLE/p$id",
              s"http://site$site.example:80/a/../p$id",
              s"http://site$site.example/./p$id" +
                s"?utm_source=feed&utm_campaign=c$id#frag",
              // percent-escaped unreserved octets decode (%70 = 'p',
              // %2E%2E = a real ".." dot segment)
              s"http://site$site.example/x/%2E%2E/%70$id")
              .map(raw => (id, raw, UrlCanon.normalize(raw)))
          }
          .toDF("doc_id", "raw_url", "canonical")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("variants"),
            countDistinct($"canonical").as("canonicals"),
            min($"canonical").as("canonical_url"))
      },
      Some("""SELECT doc_id, CAST(4 AS BIGINT) AS variants,
          CAST(1 AS BIGINT) AS canonicals,
          'http://site' || (doc_id % 50) || '.example/p' || doc_id
            AS canonical_url
        FROM documents""")),


    // ----- SURT urlkeys (the crawl-index sort key) -------------------------
    // The wayback/Common Crawl CDX convention: urls sort by
    // host-REVERSED key ("com,example)/path") so one site's records
    // cluster under a prefix scan whatever subdomain mix it has. The
    // key is built from codegen'd built-ins alone (regexp extract +
    // split/reverse/array_join — no UDF): lowercase, scheme dropped,
    // www. stripped, default ports dropped (a non-default port stays,
    // "com,example:8080)"), empty path -> "/". Three cased/ported/
    // www-ed variants per doc must collapse to ONE key.
    Q("text_surt_key",
      (s, d) => {
        import s.implicits._
        val variants = Tables.documents(s, d).select($"doc_id").as[Long]
          .flatMap { id =>
            val site = id % 50
            Seq(
              s"HTTP://Site$site.Example/p$id",
              s"http://WWW.site$site.example:80/p$id",
              s"https://site$site.EXAMPLE/p$id")
              .map(u => (id, u))
          }
          .toDF("doc_id", "url")
        val host = lower(regexp_extract($"url",
          "^[A-Za-z]+://([^/:?#]+)", 1))
        val bare = regexp_replace(host, "^www\\.", "")
        val port = regexp_extract($"url",
          "^[A-Za-z]+://[^/:?#]+:(\\d+)", 1)
        val keepPort = port =!= "" && port =!= "80" && port =!= "443"
        val path = regexp_extract($"url", "^[A-Za-z]+://[^/]+(/.*)$", 1)
        variants
          .withColumn("surt", concat(
            array_join(reverse(split(bare, "\\.")), ","),
            when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
            lit(")"),
            when(path === "", lit("/")).otherwise(path)))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("variants"),
            countDistinct($"surt").as("keys"),
            min($"surt").as("surt_key"))
      },
      Some("""SELECT doc_id, CAST(3 AS BIGINT) AS variants,
          CAST(1 AS BIGINT) AS keys,
          'example,site' || (doc_id % 50) || ')/p' || doc_id AS surt_key
        FROM documents""")),

    // ----- token counting: whitespace + word-regex + BPE-ish pieces -------
    Q("text_tokens",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d).select(
          $"doc_id",
          size(split($"text", "\\s+")).as("n_ws_tokens"),
          regexp_count($"text", lit("[a-z0-9]+")).as("n_word_tokens"),
          regexp_count($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
            .as("n_bpeish_tokens"),
          length($"text").as("n_chars_m"))
      },
      Some("""SELECT doc_id,
        CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_word_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpeish_tokens,
        CAST(LENGTH(text) AS INT) AS n_chars_m
        FROM documents""")),

    // ----- quality scoring: length/stopword/digit signals -----------------
    Q("text_quality",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", $"text",
            split(lower($"text"), "\\s+").as("ws"))
          .select(
            $"doc_id",
            size($"ws").as("n_tokens"),
            expr(s"size(filter(ws, w -> w IN ($stopList)))").as("n_stop"),
            (length($"text") -
              length(regexp_replace($"text", "[0-9]", ""))).as("n_digits"),
            length($"text").as("n_chars_m"))
          .select(
            $"doc_id", $"n_tokens", $"n_stop", $"n_digits",
            ($"n_stop".cast("double") / $"n_tokens").as("stop_ratio"),
            ($"n_digits".cast("double") / $"n_chars_m").as("digit_ratio"),
            (($"n_stop".cast("double") / $"n_tokens") * 0.5 +
              when($"n_tokens" >= 40, 0.5).otherwise(0.0)).as("quality_score"))
      },
      Some(s"""SELECT doc_id, n_tokens, n_stop, n_digits,
        CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        CAST(n_digits AS DOUBLE) / n_chars_m AS digit_ratio,
        (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 +
          (CASE WHEN n_tokens >= 40 THEN 0.5 ELSE 0.0 END) AS quality_score
        FROM (
          SELECT doc_id,
            CAST(len(ws) AS INT) AS n_tokens,
            CAST(len([w FOR w IN ws IF w IN ($stopList)]) AS INT) AS n_stop,
            CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits,
            CAST(LENGTH(text) AS INT) AS n_chars_m
          FROM (SELECT doc_id, text,
            string_split_regex(lower(text), '\\s+') AS ws FROM documents))""")),

    // ----- fasttext-style hashed linear quality classifier ----------------
    // THE standard web-corpus quality filter shape (CCNet / LLaMA data
    // pipelines run a fasttext linear classifier over hashed bag-of-
    // words features): token → hash bucket (md5-prefix mod 1024, the
    // planeWeight discipline), bucket → weight, document score = mean
    // token weight + a length-prior bias, keep = score above threshold.
    // Weights here are a DETERMINISTIC pseudo-random table derived
    // in-expression from the bucket id (a real deployment broadcasts a
    // trained weight array — the plan shape is identical: per-token
    // projection, ZERO joins), and all arithmetic until the final
    // division is BIGINT micro-units, so partial-aggregation order
    // cannot move a bit and the DuckDB oracle matches exactly. One
    // explode + one groupBy(doc_id) with map-side partials — the same
    // scale shape as text_tokens.
    Q("text_fasttext_quality",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            explode(split(lower($"text"), " ")).as("t"))
          .filter($"t" =!= "")
          .select($"doc_id",
            (conv(substring(md5($"t"), 1, 8), 16, 10).cast("long")
              % 1024L).as("b"))
          .select($"doc_id",
            (($"b" * 2654435761L) % 2000001L - 1000000L).as("w_micro"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum($"w_micro").as("sum_micro"))
          .select($"doc_id", $"n_tokens",
            ($"sum_micro".cast("double") / lit(1000000.0) /
              $"n_tokens").as("score"),
            (($"sum_micro".cast("double") / lit(1000000.0) /
              $"n_tokens") > -0.05 && $"n_tokens" >= 10).as("keep"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, t
          FROM documents,
            LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS t)
          WHERE t <> ''),
        feat AS (
          SELECT doc_id,
            (CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024)
              * 2654435761 % 2000001 - 1000000 AS w_micro
          FROM toks),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_tokens,
            SUM(w_micro) AS sum_micro
          FROM feat GROUP BY doc_id)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(sum_micro AS DOUBLE) / 1000000.0 / n_tokens AS score,
          (CAST(sum_micro AS DOUBLE) / 1000000.0 / n_tokens > -0.05
            AND n_tokens >= 10) AS keep
        FROM agg""")),

    // ----- quality-classifier calibration histogram -----------------------
    // The eval harness text_fasttext_quality needs before its threshold
    // is trusted: bucket every document's classifier score into a
    // decile and count gold positives per bucket (gold here = the
    // corpus's own lang tag being the target language — the label a
    // real pipeline gets from held-out annotations). Reading the
    // n_gold/n_docs column pair per decile IS the calibration curve;
    // a well-ordered classifier shows the positive rate rising with
    // the decile. Arithmetic is exact end to end: the score stays in
    // BIGINT micro-units and the decile is computed as ONE
    // all-nonnegative integer division,
    //   (sum_micro + 1e6·n_tokens) · 10 div (2000001 · n_tokens),
    // i.e. floor(10·(mean+1)/2.000001) — no float, no negative
    // truncation ambiguity between engines (Spark `div` truncates
    // toward zero, DuckDB `//` floors; nonnegative operands make them
    // identical). Same one-explode one-groupBy scale shape as the
    // classifier itself, plus a 10-row rollup.
    Q("text_quality_calibration",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", ($"lang" === "en").as("gold"),
            explode(split(lower($"text"), " ")).as("t"))
          .filter($"t" =!= "")
          .select($"doc_id", $"gold",
            (conv(substring(md5($"t"), 1, 8), 16, 10).cast("long")
              % 1024L).as("b"))
          .select($"doc_id", $"gold",
            (($"b" * 2654435761L) % 2000001L - 1000000L).as("w_micro"))
          .groupBy($"doc_id", $"gold")
          .agg(count(lit(1)).as("n_tokens"),
            sum($"w_micro").as("sum_micro"))
          .select($"gold", expr(
            "(sum_micro + 1000000L * n_tokens) * 10L div (2000001L * n_tokens)")
            .as("decile"))
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"gold", 1L).otherwise(0L)).as("n_gold"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, lang = 'en' AS gold, t
          FROM documents,
            LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS t)
          WHERE t <> ''),
        feat AS (
          SELECT doc_id, gold,
            (CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024)
              * 2654435761 % 2000001 - 1000000 AS w_micro
          FROM toks),
        agg AS (
          SELECT doc_id, gold, COUNT(*) AS n_tokens,
            CAST(SUM(w_micro) AS BIGINT) AS sum_micro
          FROM feat GROUP BY 1, 2)
        SELECT CAST((sum_micro + 1000000 * n_tokens) * 10
                 // (2000001 * n_tokens) AS BIGINT) AS decile,
          COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT) AS n_gold
        FROM agg GROUP BY 1""")),

    // ----- language-ID heuristic (stopword-density n-gram proxy) ----------
    Q("text_lang_id",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", $"lang",
            split(lower($"text"), "\\s+").as("ws"))
          .select($"doc_id", $"lang",
            (expr(s"size(filter(ws, w -> w IN ($stopList)))").cast("double") /
              size($"ws")).as("stop_ratio"))
          .select($"doc_id", $"lang",
            when($"stop_ratio" > 0.04, "en").otherwise("unknown")
              .as("pred_lang"))
      },
      Some(s"""SELECT doc_id, lang,
        CASE WHEN CAST(len([w FOR w IN ws IF w IN ($stopList)]) AS INT)
                  / CAST(len(ws) AS DOUBLE) > 0.04
             THEN 'en' ELSE 'unknown' END AS pred_lang
        FROM (SELECT doc_id, lang,
          string_split_regex(lower(text), '\\s+') AS ws FROM documents)""")),

    // ----- canonical fingerprint: md5 of sorted distinct word set ---------
    Q("text_fingerprint",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d).select(
          $"doc_id",
          md5(concat_ws(" ",
            array_sort(array_distinct(split(lower($"text"), "\\s+"))))
            .cast("binary")).as("fingerprint"))
      },
      Some("""SELECT doc_id,
        md5(array_to_string(
          list_sort(list_distinct(string_split_regex(lower(text), '\s+'))),
          ' ')) AS fingerprint
        FROM documents""")),

    // ----- canonical-document selection after fingerprint dedup ----------
    // The survivor-picking half of dedup: group by content fingerprint,
    // keep the "best" doc (longest, then lowest id) — the standard
    // keep-one policy in training-data pipelines.
    Q("text_canonical_pick",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val fp = Tables.documents(s, d).select(
          $"doc_id", $"n_chars",
          md5(concat_ws(" ",
            array_sort(array_distinct(split(lower($"text"), "\\s+"))))
            .cast("binary")).as("fp"))
        val w = Window.partitionBy($"fp")
          .orderBy($"n_chars".desc, $"doc_id".asc)
        fp.withColumn("rn", row_number().over(w))
          .withColumn("group_size", count(lit(1)).over(
            Window.partitionBy($"fp")))
          .filter($"rn" === 1)
          .select($"fp", $"doc_id".as("keep_doc_id"), $"group_size")
      },
      Some("""SELECT fp, doc_id AS keep_doc_id, group_size FROM (
          SELECT fp, doc_id,
            ROW_NUMBER() OVER (PARTITION BY fp
              ORDER BY n_chars DESC, doc_id ASC) AS rn,
            COUNT(*) OVER (PARTITION BY fp) AS group_size
          FROM (SELECT doc_id, n_chars,
            md5(array_to_string(list_sort(list_distinct(
              string_split_regex(lower(text), '\s+'))), ' ')) AS fp
            FROM documents))
        WHERE rn = 1""")),

    // ----- unigram-LM quality scoring -------------------------------------
    // Corpus-trained unigram model scoring each document by (a) hapax
    // count (tokens whose corpus frequency is 1 — OOV-ish noise signal)
    // and (b) mean inverse unigram probability Σ(N/n_tok)/T, a monotone
    // transform of the per-token perplexity contribution kept libm-free:
    // each N/n_tok is one IEEE division (bit-identical cross-engine),
    // summed through DECIMAL(18,6) so partial-aggregation order cannot
    // diverge (Q doc determinism rules). The classic KenLM-perplexity
    // quality gate (CCNet, Wenzek et al. 2020) reduces to thresholding a
    // statistic of exactly this shape. Scale: one shuffle to build the
    // unigram table on `tok`, reused by the scoring join on the same key;
    // the corpus total is a broadcast scalar. Token frequency is Zipfian,
    // so the probe side of the tok-join is skewed: at test SFs the
    // unigram table broadcasts (no shuffle at all); at 100 TB it exceeds
    // the broadcast threshold and the hot-token partitions are exactly
    // what AQE skew-join splits (ScaleTechniquesSpec demonstrates the
    // mechanism) — same caveat family as the shingle inverted index.
    Q("text_ngram_lm",
      (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        val uni = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
        val tot = toks.agg(count(lit(1)).as("n_total"))
        toks.join(uni, "tok")
          .crossJoin(broadcast(tot))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(when($"n" === 1, 1L).otherwise(0L)).as("hapax_n"),
            (sum(($"n_total".cast("double") / $"n").cast("decimal(18,6)"))
              .cast("double") / count(lit(1))).as("mean_inv_p"))
      },
      Some("""WITH toks AS (
          SELECT doc_id,
            UNNEST(string_split_regex(lower(text), '\s+')) AS tok
          FROM documents),
        uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_total FROM toks)
        SELECT doc_id,
          COUNT(*) AS n_toks,
          CAST(SUM(CASE WHEN u.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_n,
          CAST(SUM(CAST(CAST(n_total AS DOUBLE) / u.n AS DECIMAL(18,6)))
            AS DOUBLE) / COUNT(*) AS mean_inv_p
        FROM toks t JOIN uni u USING (tok) CROSS JOIN tot
        GROUP BY doc_id""")),

    // ----- BM25-style relevance scoring ----------------------------------
    // Per (doc, term) tf/df statistics with a rational idf surrogate
    // (N - df + 0.5)/(df + 0.5) — the BM25 idf numerator without the log,
    // keeping the arithmetic libm-free so the oracle is bit-exact. One
    // row per matched term; downstream ranking sums/weights as needed.
    Q("text_bm25ish",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val terms = Seq("spark", "query", "data")
        val words = docs
          .select($"doc_id",
            explode(split(lower($"text"), "\\s+")).as("w"))
          .filter($"w".isin(terms: _*))
        val tf = words.groupBy($"doc_id", $"w")
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(broadcast(df), "w")
          .crossJoin(broadcast(n))
          .select($"doc_id", $"w".as("term"), $"tf", $"df",
            (($"tf" * ($"n_docs" - $"df" + 0.5)) / ($"df" + 0.5))
              .as("score_term"))
      },
      Some("""WITH words AS (
          SELECT doc_id, w
          FROM (SELECT doc_id,
                  UNNEST(string_split_regex(lower(text), '\s+')) AS w
                FROM documents)
          WHERE w IN ('spark', 'query', 'data')),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
        df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, tf.w AS term, tf.tf, df.df,
          (tf.tf * (n.n_docs - df.df + 0.5)) / (df.df + 0.5) AS score_term
        FROM tf JOIN df ON tf.w = df.w CROSS JOIN n""")),

    // ----- per-document keyword extraction (top-k distinctive terms) ------
    // The tagging/routing primitive corpus tooling runs per document:
    // the k terms that best characterize a doc, ranked by the fully
    // INTEGER order (tf DESC, df ASC, term ASC) — frequent in the doc,
    // rare in the corpus, ties broken lexically — instead of a float
    // tf·log(N/df) whose libm rounding the two engines would disagree
    // on (the text_bm25ish rationale). Scale shape: (doc, term) and
    // term aggregations shuffle on their natural keys; the df join
    // shuffles on term (vocab is unbounded at corpus scale, so NO
    // broadcast — this is a fact-to-fact join by design); the final
    // top-k window partitions by doc_id (bounded per-doc term counts),
    // never globally.
    Q("text_keyword_topk",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val words = Tables.documents(s, d)
          .select($"doc_id",
            explode(split(lower($"text"), "\\s+")).as("w"))
          .filter($"w" =!= "")
        val tf = words.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
        val wnd = Window.partitionBy($"doc_id")
          .orderBy($"tf".desc, $"df".asc, $"w".asc)
        tf.join(df, "w")
          .withColumn("rank", row_number().over(wnd))
          .filter($"rank" <= 3)
          .select($"doc_id", $"w".as("term"), $"tf", $"df",
            $"rank".cast("int").as("rank"))
      },
      Some("""WITH words AS (
          SELECT doc_id, w
          FROM (SELECT doc_id,
                  UNNEST(string_split_regex(lower(text), '\s+')) AS w
                FROM documents)
          WHERE w <> ''),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
        df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
        SELECT doc_id, w AS term, tf, df, CAST(rank AS INT) AS rank
        FROM (
          SELECT tf.doc_id, tf.w, tf.tf, df.df,
            ROW_NUMBER() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rank
          FROM tf JOIN df ON tf.w = df.w)
        WHERE rank <= 3""")),

    // ----- deterministic train/val/test split ----------------------------
    // Content-hash bucketing (md5-prefix mod 100): stable across runs and
    // engines, independent of row order/partitioning — the standard way
    // to split a training corpus so that re-ingests land identically.
    Q("pipeline_split",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            (conv(substring(md5($"text".cast("binary")), 1, 8), 16, 10)
              .cast("long") % 100).as("bucket"))
          .select($"doc_id",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "val")
              .otherwise("test").as("split"))
      },
      Some("""SELECT doc_id,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             ELSE 'test' END AS split
        FROM (SELECT doc_id,
                CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 AS b
              FROM documents)""")),

    // ----- repetition signals (Gopher-style quality filters) -------------
    // Duplicate n-gram fractions + most-frequent-word share, the standard
    // repetition filters for web-scale training corpora (Rae et al. 2021,
    // "Scaling Language Models" §A1.1). Pure per-row array expressions:
    // no shuffle, whole-stage codegen, O(words^2) only within one doc.
    // Ratios are single divisions of exact integer counts -> bit-exact.
    Q("text_repetition",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
          .selectExpr("doc_id", "ws", "size(ws) AS n_words",
            """CASE WHEN size(ws) >= 2 THEN
                 transform(sequence(1, size(ws) - 1),
                   i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
               ELSE array() END AS bigrams""")
          .selectExpr("doc_id", "n_words",
            """CASE WHEN size(bigrams) > 0 THEN
                 CAST(size(bigrams) - size(array_distinct(bigrams)) AS DOUBLE)
                   / CAST(size(bigrams) AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_frac""",
            """CAST(array_max(transform(array_distinct(ws),
                 w -> size(filter(ws, x -> x = w)))) AS DOUBLE)
               / CAST(n_words AS DOUBLE) AS top_word_frac""")
      },
      Some("""SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
          CASE WHEN len(ws) >= 2 THEN
            CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE)
              / CAST(len(bigrams) AS DOUBLE)
          ELSE 0.0 END AS dup_bigram_frac,
          CAST(list_max([len(list_filter(ws, x -> x = w))
                         FOR w IN list_distinct(ws)]) AS DOUBLE)
            / CAST(len(ws) AS DOUBLE) AS top_word_frac
        FROM (SELECT doc_id, ws,
                CASE WHEN len(ws) >= 2 THEN
                  [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]
                ELSE [] END AS bigrams
              FROM (SELECT doc_id,
                      string_split_regex(lower(text), '\s+') AS ws
                    FROM documents))""")),

    // ----- PII scrubbing --------------------------------------------------
    // Regex redaction of emails / IPv4s / long digit runs, with per-doc
    // match counts. The synthetic corpus has no PII, so the query first
    // derives a deterministic contact line from doc_id (identically in
    // the oracle) — the scrub then has real matches to remove. Patterns
    // are restricted to syntax with identical semantics in Java regex and
    // RE2. Narrow scalar pipeline: no shuffle, codegen throughout.
    Q("text_pii_scrub",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            concat($"text", lit(" contact user"), $"doc_id",
              lit("@example.com ip 10.0."), $"doc_id" % 256,
              lit(".1 card 4111111111111"), $"doc_id" % 10).as("raw"))
          .select($"doc_id",
            regexp_count($"raw", lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"))
              .as("n_emails"),
            regexp_count($"raw",
              lit("\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}")).as("n_ips"),
            regexp_count($"raw", lit("\\d{8,}")).as("n_longnums"),
            regexp_replace(regexp_replace(regexp_replace($"raw",
              "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+", "<EMAIL>"),
              "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "<IP>"),
              "\\d{8,}", "<NUM>").as("clean"))
      },
      Some("""SELECT doc_id,
          CAST(len(regexp_extract_all(raw,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]+')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(raw,
            '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS INT) AS n_ips,
          CAST(len(regexp_extract_all(raw, '\d{8,}')) AS INT) AS n_longnums,
          regexp_replace(regexp_replace(regexp_replace(raw,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
            '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
            '\d{8,}', '<NUM>', 'g') AS clean
        FROM (SELECT doc_id,
                text || ' contact user' || doc_id || '@example.com ip 10.0.'
                  || (doc_id % 256) || '.1 card 4111111111111'
                  || (doc_id % 10) AS raw
              FROM documents)""")),

    // ----- stratified systematic sampling --------------------------------
    // Per-language rates via id-modulus (systematic sampling): exact,
    // order-independent, reproducible — for class-balanced curation.
    Q("pipeline_stratified_sample",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .filter(
            when($"lang" === "en", $"doc_id" % 2 === 0)      // keep 1/2
              .otherwise($"doc_id" % 5 === 0))               // keep 1/5
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_sampled"))
      },
      Some("""SELECT lang, COUNT(*) AS n_sampled FROM documents
        WHERE (lang = 'en' AND doc_id % 2 = 0)
           OR (lang <> 'en' AND doc_id % 5 = 0)
        GROUP BY lang""")),

    // ----- training-sequence packing --------------------------------------
    // Greedy contiguous packing: documents fill fixed-token-budget
    // training sequences (budget 256 word-tokens) in doc_id order WITHIN
    // each source partition — a global ordering would serialize at 100 TB;
    // per-source packing runs one window per shard in parallel, which is
    // how production packers shard anyway. pack_id = tokens-before div
    // budget: exact integer arithmetic, engine-portable.
    Q("pipeline_pack_sequences",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d).select($"source", $"doc_id",
          size(split($"text", "\\s+")).cast("long").as("n_tokens"))
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        docs
          .withColumn("tok_before",
            coalesce(sum($"n_tokens").over(w), lit(0L)))
          .selectExpr("source", "doc_id", "n_tokens",
            "tok_before div 256 AS pack_id")
      },
      Some("""SELECT source, doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 256 AS BIGINT) AS pack_id
        FROM (SELECT source, doc_id,
                CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                  AS n_tokens
              FROM documents)""")),

    // ----- winnowing fingerprints (MOSS document fingerprinting) ----------
    // Schleimer/Wilkerson/Aiken, "Winnowing: local algorithms for
    // document fingerprinting" (SIGMOD 2003): hash every k-gram (k=3
    // tokens), slide a window of w=4 consecutive hashes, and select
    // each window's RIGHTMOST minimum — the classic guarantee that any
    // shared token run of length >= w+k-1 (6) between documents shares
    // a selected fingerprint, while storing only ~2/(w+1) of the
    // hashes. Formulated entirely as window functions: position p is
    // some window's rightmost min iff for SOME split a+b = w-1 the
    // previous a hashes are >= h[p] and the next b are STRICTLY > h[p]
    // (ties select rightmost), with pos arithmetic guarding complete
    // windows at the edges. Hashes are the engine-portable md5-prefix
    // integers (Dedup's MinHash trick), so DuckDB selects bit-identical
    // fingerprints. Scale shape: one window over (doc_id, pos) — a
    // single shuffle on doc_id; per-doc frames are w-bounded rows, no
    // joins, no explosion beyond one row per k-gram.
    Q("text_winnow_fingerprint",
      (s, d) => winnowFingerprints(s, d),
      Some(winnowSql)),

    // ----- winnowing match candidates (shared-fingerprint doc pairs) ------
    // The fingerprint CONSUMER: document pairs sharing >= 2 selected
    // fingerprints — the plagiarism/boilerplate-overlap detector MOSS
    // runs on its fingerprint index. Same inverted-index join shape as
    // the shingle Jaccard family, but over the winnowed set (~2/(w+1)
    // of the grams), so the index a 100 TB corpus builds is ~40% the
    // size with the detection guarantee intact. Hot fingerprints
    // (corpus-wide boilerplate runs) are DF-capped before the join,
    // exactly like dedup_ngram_jaccard_capped's shingle cap, bounding
    // every join key at DfCap^2 pairs.
    Q("dedup_winnow_matches",
      (s, d) => {
        import s.implicits._
        // consumed three times (DF-cap agg + both join sides) — cache,
        // like dedup_ngram_jaccard_capped's shingle table
        val fp = winnowFingerprints(s, d).cache()
        val kept = fp.groupBy($"fp_hash")
          .agg(count(lit(1)).as("df"))
          .filter($"df" <= 5)
          .select($"fp_hash")
        val idx = fp.join(kept, "fp_hash")
        idx.as("a").join(idx.as("b"),
            col("a.fp_hash") === col("b.fp_hash") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
          .agg(countDistinct(col("a.fp_hash")).as("n_shared_fp"))
          .filter($"n_shared_fp" >= 2)
      },
      Some(s"""WITH fp AS ($winnowSql),
        kept AS (SELECT fp_hash FROM fp GROUP BY fp_hash
                 HAVING COUNT(*) <= 5),
        idx AS (SELECT fp.doc_id, fp.fp_hash
                FROM fp JOIN kept USING (fp_hash))
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
          COUNT(DISTINCT a.fp_hash) AS n_shared_fp
        FROM idx a JOIN idx b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT a.fp_hash) >= 2""")),

    // ----- exact repeated-substring spans (suffix-overlap dedup prep) -----
    // The character-level exact-duplication miner: maximal per-document
    // spans covered by some >= L-char substring that also appears in at
    // least one OTHER document — the span surface a Lee-et-al-style
    // "deduplicating training data" pass cuts out of a corpus (their
    // suffix-array ExactSubstr dedup finds the same spans; here the
    // single-node suffix array is re-expressed as a distributed L-gram
    // sweep, which finds an identical cover for any match of length
    // >= L: every position of a shared substring of length M >= L
    // starts a shared L-gram, so the union of duplicated L-gram
    // windows IS the union of shared >= L-char substrings).
    //   1. every L-char window (doc_id, pos, md5(gram));
    //   2. a gram is cross-doc iff min(doc_id) != max(doc_id) per gram —
    //      computed as a groupBy + inner join-back, deliberately NOT a
    //      window flag: the aggregate gets map-side combine (a corpus-
    //      wide boilerplate gram collapses to one row per map task
    //      instead of 10^9 rows in one sorted window partition) and the
    //      join-back is an equi-join AQE can skew-split, neither of
    //      which a window over the gram key offers. The flag table
    //      holds only cross-doc-duplicated grams — a small fraction of
    //      any sane corpus;
    //   3. duplicated starts merge to maximal spans whenever their
    //      L-char windows OVERLAP (start gap < L), not only when starts
    //      are consecutive — so output spans are the disjoint union of
    //      duplicated L-gram windows (Lee et al. ExactSubstr semantics;
    //      no two rows ever cover the same character). Variable-gap
    //      islands need lag + running-sum instead of pos-row_number,
    //      but both windows share one (doc_id, pos) sort — still a
    //      single shuffle on doc_id.
    // Scale shape: the corpus-sized relation shuffles once for the join
    // and once on doc_id, both on bounded-width keys, no corpus-scale
    // sort anywhere; rows = one per character position (L× no blowup —
    // the gram TEXT never shuffles, only its 8-byte digest: the 60-bit
    // md5-prefix BIGINT, the engine-wide portable-hash idiom — profiled
    // 2.3× cheaper end-to-end than shuffling/grouping the 32-char hex
    // string, and both engines compute the identical integer so parity
    // holds bit-for-bit even on the astronomically rare collision).
    // Output is bounded (each position appears at most once — no pair
    // explosion, so no DfCap needed). The gram table is cached across
    // its two consumers (agg + join side) at this scale; at corpus
    // sizes past executor storage the narrow recompute from the scan
    // is the cheaper side of the tradeoff.
    Q("text_repeat_spans",
      (s, d) => repeatSpansDf(s, d)
        .orderBy(col("doc_id"), col("span_start")),
      Some(s"""WITH $repeatSpansCtes
        SELECT doc_id, span_start, span_end,
          span_end - span_start + 1 AS span_len
        FROM spans
        ORDER BY doc_id, span_start""")),

    // ----- exact-duplicate span REMOVAL (the ExactSubstr intervention) ----
    // text_repeat_spans detects; this op performs the actual training-
    // data cleaning step Lee et al. apply: delete every cross-document
    // duplicated span from each document and keep the remainder. The
    // round-9 overlap merge guarantees per-doc spans are DISJOINT, so
    // the surgery is a pure per-row expression: sort the doc's spans
    // (a tiny array after collect_list — bounded by doc length / L),
    // take the substrings BETWEEN consecutive spans, concatenate. The
    // kept text's md5 pins the exact surviving content; docs with no
    // spans pass through whole. Scale shape: the span relation (small)
    // aggregates per doc and joins the corpus once — the corpus text
    // shuffles only for that one equi-join (or broadcasts, spans being
    // tiny), and the strip itself is codegen'd array/string work.
    Q("text_strip_repeat_spans",
      (s, d) => {
        import s.implicits._
        val spanLists = repeatSpansDf(s, d)
          .groupBy($"doc_id")
          .agg(collect_list(struct($"span_start", $"span_end")).as("sp0"))
        Tables.documents(s, d)
          .select($"doc_id", $"text")
          .join(spanLists, Seq("doc_id"), "left")
          .select($"doc_id", $"text",
            expr("array_sort(coalesce(sp0, " +
              "CAST(array() AS array<struct<span_start:bigint," +
              "span_end:bigint>>)))").as("sp"))
          .select($"doc_id",
            size($"sp").cast("long").as("n_spans"),
            expr("aggregate(sp, 0L, (a, x) -> " +
              "a + x.span_end - x.span_start + 1)").as("removed_chars"),
            expr("""concat_ws('', zip_with(
                concat(array(1L), transform(sp, x -> x.span_end + 1)),
                concat(transform(sp, x -> x.span_start - 1),
                       array(CAST(length(text) AS BIGINT))),
                (s, e) -> CASE WHEN e >= s
                  THEN substring(text, CAST(s AS INT),
                                 CAST(e - s + 1 AS INT))
                  ELSE '' END))""").as("kept"))
          .select($"doc_id", $"n_spans", $"removed_chars",
            length($"kept").cast("long").as("kept_chars"),
            md5($"kept".cast("binary")).as("kept_md5"))
      },
      Some(s"""WITH $repeatSpansCtes,
        sl AS (
          SELECT doc_id,
            list_sort(list({'s': span_start, 'e': span_end})) AS sp
          FROM spans GROUP BY doc_id),
        joined AS (
          SELECT d.doc_id, d.text,
            COALESCE(sl.sp, []) AS sp
          FROM documents d LEFT JOIN sl ON d.doc_id = sl.doc_id),
        stripped AS (
          SELECT doc_id,
            CAST(len(sp) AS BIGINT) AS n_spans,
            CAST(COALESCE(list_sum([x.e - x.s + 1 FOR x IN sp]), 0)
              AS BIGINT) AS removed_chars,
            array_to_string([
              CASE WHEN ends[i] >= starts[i]
                THEN substr(text, CAST(starts[i] AS INT),
                            CAST(ends[i] - starts[i] + 1 AS INT))
                ELSE '' END
              FOR i IN generate_series(1, len(starts))], '') AS kept
          FROM (
            SELECT doc_id, text, sp,
              [1] || [x.e + 1 FOR x IN sp] AS starts,
              [x.s - 1 FOR x IN sp] || [length(text)] AS ends
            FROM joined))
        SELECT doc_id, n_spans, removed_chars,
          CAST(length(kept) AS BIGINT) AS kept_chars,
          md5(kept) AS kept_md5
        FROM stripped""")),

    // ----- overlapping document chunking (RAG / context-window prep) ------
    // Splits each document's token stream into fixed windows of 64
    // tokens at stride 48 (16-token overlap) — the retrieval-corpus and
    // long-context preprocessing step every RAG/embedding pipeline runs
    // before encoding. Emits one row per chunk with its doc-relative
    // token offset and an md5 of the chunk text, so the oracle pins the
    // exact chunk CONTENT, not just the counts. Scale shape: a pure
    // per-row flatMap projection (sequence + explode + slice) — zero
    // shuffles, codegen throughout; output rows ≈ n_tok/stride per doc,
    // so data volume grows by a bounded ~1.33× (64/48), never
    // quadratically.
    Q("pipeline_chunk_overlap",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", split($"text", "\\s+").as("toks"))
          .select($"doc_id", $"toks", size($"toks").as("n_tok"),
            posexplode(expr("sequence(0, size(toks) - 1, 48)"))
              .as(Seq("chunk_idx", "tok_start")))
          .select($"doc_id", $"chunk_idx".cast("int").as("chunk_idx"),
            $"tok_start".cast("int").as("tok_start"), $"n_tok",
            least(lit(64), $"n_tok" - $"tok_start").cast("int")
              .as("chunk_tok"),
            md5(concat_ws(" ", expr("slice(toks, tok_start + 1, 64)"))
              .cast("binary")).as("chunk_md5"))
      },
      Some("""SELECT doc_id, CAST(tok_start // 48 AS INT) AS chunk_idx,
          CAST(tok_start AS INT) AS tok_start,
          CAST(len(toks) AS INT) AS n_tok,
          CAST(LEAST(64, len(toks) - tok_start) AS INT) AS chunk_tok,
          md5(array_to_string(
            list_slice(toks, tok_start + 1, tok_start + 64), ' '))
            AS chunk_md5
        FROM (
          SELECT doc_id, toks,
            unnest(generate_series(0, len(toks) - 1, 48)) AS tok_start
          FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                FROM documents))""")),

    // ----- composite quality gate (Gopher-style keep/drop verdict) --------
    // The curation decision production filters actually emit: every doc
    // gets keep/drop plus the first failing rule, combining length,
    // repetition, and word-shape signals (Rae et al. 2021 §A1.1 rule
    // style). Narrow per-row array expressions — no shuffle, codegen
    // throughout; every ratio is a single division of exact integer
    // counts, so the float comparisons agree across engines.
    Q("pipeline_quality_gate",
      (s, d) => qualityGate(Tables.documents(s, d)),
      Some("""SELECT doc_id, n_tokens, top_word_frac, dup_word_frac,
          chars_per_token, reason = 'ok' AS keep, reason
        FROM (
          SELECT doc_id, n_tokens, top_word_frac, dup_word_frac,
            chars_per_token,
            CASE WHEN n_tokens < 20 THEN 'too_short'
                 WHEN top_word_frac > 0.2 THEN 'top_word'
                 WHEN dup_word_frac > 0.6 THEN 'dup_words'
                 WHEN chars_per_token > 6.0 THEN 'word_len'
                 ELSE 'ok' END AS reason
          FROM (
            SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
              CAST(list_max([len(list_filter(ws, x -> x = w))
                             FOR w IN list_distinct(ws)]) AS DOUBLE)
                / CAST(len(ws) AS DOUBLE) AS top_word_frac,
              CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE)
                / CAST(len(ws) AS DOUBLE) AS dup_word_frac,
              CAST(nc AS DOUBLE) / CAST(len(ws) AS DOUBLE)
                AS chars_per_token
            FROM (SELECT doc_id, LENGTH(text) AS nc,
                    string_split_regex(lower(text), '\s+') AS ws
                  FROM documents)))""")),

    // ----- rolling (Rabin-Karp) hash via native Catalyst expression -------
    Q("text_rolling_hash",
      (s, d) => {
        import s.implicits._
        import graft.functions.RollingHash.rolling_hash
        Tables.documents(s, d)
          .select($"doc_id", rolling_hash($"text").as("rhash"))
      },
      Some("""SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            [CAST(unicode(c) AS BIGINT) FOR c IN string_split(text, '')]),
          (acc, c) -> (acc * 257 + c) % 2147483647) AS rhash
        FROM documents""")),

    // ----- Unicode NFC normalization (native expression) ------------------
    // Crawls mix precomposed and combining-mark renderings of the same
    // text; unless ingestion normalizes, every digest-keyed operator
    // upstream (exact/chunk dedup, fingerprints) treats canonically-
    // equal documents as distinct. Spark has no normalization built-in
    // → graft.functions.NfcNormalize, a codegen'd wrapper over the
    // JDK's UAX #15 implementation with an allocation-free
    // already-normalized fast path. The synthetic corpus is ASCII, so
    // the denormalized input is synthesized IN-QUERY (both engines
    // replay it): every 'a' re-rendered as 'a' + U+0301 combining
    // acute — the decomposed form — then normalized back; n_in > n_out
    // proves the marks composed, out_md5 pins the exact bytes against
    // DuckDB's independent utf8proc NFC.
    Q("text_normalize",
      (s, d) => {
        import s.implicits._
        import graft.functions.NfcNormalize.nfc_normalize
        Tables.documents(s, d)
          .select($"doc_id",
            regexp_replace($"text", "a", "a\u0301").as("dt"))
          .select($"doc_id",
            length($"dt").cast("long").as("n_in"),
            nfc_normalize($"dt").as("norm"))
          .select($"doc_id", $"n_in",
            length($"norm").cast("long").as("n_out"),
            md5($"norm".cast("binary")).as("out_md5"))
      },
      Some("""SELECT doc_id,
          CAST(length(dt) AS BIGINT) AS n_in,
          CAST(length(nfc_normalize(dt)) AS BIGINT) AS n_out,
          md5(nfc_normalize(dt)) AS out_md5
        FROM (SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS dt
              FROM documents)""")),

    // ----- brotli blob decode at the SQL surface ---------------------------
    // Compressed document lakes store brotli blobs in COLUMNS (not
    // behind a Content-Encoding header); `brotli_decode` is the full
    // RFC 7932 clean-room decoder (static dictionary included) as a
    // native codegen'd Expression. The fixture side builds each blob
    // in-query with the deterministic dict-prefix encoder (every blob
    // OPENS with a real §8 static-dictionary reference resolving to
    // "Time "), so the oracle knows the decoded bytes in closed form —
    // md5('Time ' || text) — and a decoder that mishandles the
    // dictionary, transforms, or framing mismatches every row. Rows
    // ≡ 0 (mod 11) carry a large-window header instead: the documented
    // valid-but-out-of-scope shape must decode to NULL (route, don't
    // fail the task) — the same scale rule the warc walk applies.
    // Scale: pure per-row map, zero shuffles.
    Q("text_brotli_decode",
      (s, d) => {
        import s.implicits._
        import graft.functions.BrotliDecode.brotli_decode
        val enc = udf((t: String) => graft.operators.BrotliCodec
          .encodeWithDictPrefix(t.getBytes("UTF-8")))
        Tables.documents(s, d)
          .select($"doc_id",
            when($"doc_id" % 11 === 0,
              lit(Array[Byte](0x11, 0x22, 0x33))) // large-window header
              .otherwise(enc($"text")).as("blob"))
          .select($"doc_id", brotli_decode($"blob").as("dec"))
          .select($"doc_id",
            md5($"dec").as("dec_md5"),
            $"dec".isNull.as("unsupported"))
      },
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN NULL
               ELSE md5('Time ' || text) END AS dec_md5,
          doc_id % 11 = 0 AS unsupported
        FROM documents""")),

    // ----- homoglyph folding (confusable-normalized dedup keys) -----------
    // The spoofing-resistant dedup key: visually-identical text whose
    // Latin letters were swapped for Cyrillic or Greek lookalikes (the
    // classic Unicode-confusables evasion — spam templates, plagiarized
    // docs, duplicated content dodging exact digests) must fold back to
    // the SAME digest. The map is the TR39-derived SINGLE-CODEPOINT
    // Latin-confusable set ([[Confusables]] — 54 Cyrillic + Greek
    // letters, both cases, each folding to one Latin letter) applied as
    // a translate() projection; the fixture spoofs three quarters of
    // the corpus in-query with three DIFFERENT confusable subsets
    // (Cyrillic lowercase vowel-ish, Cyrillic consonant-ish, Greek), so
    // partial maps are exercised, and the row proves round-trip: folded
    // digest == original digest and the confusable count matches the
    // injected population. Scale shape: pure per-row character mapping,
    // zero shuffles.
    Q("text_homoglyph_fold",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", $"text",
            when($"doc_id" % 4 === 0,
              translate($"text", "aeo", "аео"))
              .when($"doc_id" % 4 === 1,
                translate($"text", "pcxy",
                  "рсху"))
              .when($"doc_id" % 4 === 2,
                translate($"text", "oviy",
                  "ονιγ"))
              .otherwise($"text").as("spoofed"))
          .select($"doc_id",
            ($"spoofed" =!= $"text").as("was_spoofed"),
            (length($"spoofed") -
              length(translate($"spoofed", Confusables.src, "")))
              .cast("long").as("n_confusables"),
            (md5(translate($"spoofed", Confusables.src, Confusables.dst)
              .cast("binary")) ===
              md5($"text".cast("binary"))).as("fold_restores"),
            md5(translate($"spoofed", Confusables.src, Confusables.dst)
              .cast("binary")).as("folded_md5"))
      },
      Some(s"""WITH sp AS (
          SELECT doc_id, text,
            CASE WHEN doc_id % 4 = 0
                THEN translate(text, 'aeo',
                  chr(1072) || chr(1077) || chr(1086))
              WHEN doc_id % 4 = 1
                THEN translate(text, 'pcxy',
                  chr(1088) || chr(1089) || chr(1093) || chr(1091))
              WHEN doc_id % 4 = 2
                THEN translate(text, 'oviy',
                  chr(959) || chr(957) || chr(953) || chr(947))
              ELSE text END AS spoofed
          FROM documents),
        cy AS (SELECT ${Confusables.srcSqlExpr} AS conf)
        SELECT doc_id,
          spoofed <> text AS was_spoofed,
          CAST(length(spoofed) - length(translate(spoofed, cy.conf, ''))
            AS BIGINT) AS n_confusables,
          md5(translate(spoofed, cy.conf, '${Confusables.dst}')) = md5(text)
            AS fold_restores,
          md5(translate(spoofed, cy.conf, '${Confusables.dst}'))
            AS folded_md5
        FROM sp CROSS JOIN cy""")),

    // ----- corpus-level boilerplate fraction ------------------------------
    // CCNet-style boilerplate signal at n-gram granularity (the corpus has
    // no line structure): a word 5-gram is boilerplate when it appears in
    // >= 2 distinct documents; each doc reports what fraction of its
    // distinct 5-grams is corpus-boilerplate. Differs from
    // pipeline_contamination (train/eval leakage) and text_repetition
    // (within-doc): this is the cross-document common-content signal used
    // to strip navigation chrome / license headers before training.
    // Scale: array_distinct runs inside the row BEFORE the explode, the
    // doc-frequency agg is a map-side-partial hash agg on the gram, and
    // the join back is gram-keyed — the classic two-pass df computation;
    // at 100 TB both shuffles carry (gram, count)-sized records only.
    Q("text_boilerplate",
      (s, d) => {
        import s.implicits._
        val grams = Tables.documents(s, d)
          .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
          .select($"doc_id", explode(array_distinct(
            expr("""CASE WHEN size(ws) >= 5 THEN
                      transform(sequence(1, size(ws) - 4),
                        i -> array_join(slice(ws, i, 5), ' '))
                    ELSE array() END"""))).as("gram"))
        val dfreq = grams.groupBy($"gram").agg(count(lit(1)).as("df"))
        grams.join(dfreq, "gram")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_boiler"))
          .select($"doc_id", $"n_grams", $"n_boiler",
            ($"n_boiler".cast("double") / $"n_grams".cast("double"))
              .as("boiler_frac"))
      },
      Some("""WITH g AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ws) >= 5 THEN
              [array_to_string(ws[i:i+4], ' ')
               FOR i IN generate_series(1, len(ws) - 4)]
            ELSE [] END)) AS gram
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
                FROM documents)),
        dfreq AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
        SELECT g.doc_id, COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_boiler,
          CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS boiler_frac
        FROM g JOIN dfreq USING (gram)
        GROUP BY 1""")),

    // ----- BPE-style pair counting (tokenizer training, iteration one) ----
    // The inner loop of byte-pair-encoding training: count adjacent
    // character pairs inside words across the corpus and surface the top
    // merge candidates. One explode + one hash aggregation; the pair
    // space is tiny (alphabet^2) so the partial aggregation collapses
    // almost everything map-side, and the top-k plans as
    // TakeOrderedAndProject (per-partition heap — no global sort). A full
    // BPE trainer is this query iterated with a merge applied between
    // rounds; the per-iteration dataflow is identical.
    Q("pipeline_bpe_pairs",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(explode(split(lower($"text"), "\\s+")).as("w"))
          .filter(length($"w") >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(w) - 1), j -> substring(w, j, 2))"))
            .as("pair"))
          .groupBy($"pair").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("pair")).limit(20)
      },
      Some("""WITH w AS (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
          FROM documents),
        pairs AS (
          SELECT unnest([w[j:j+1] FOR j IN generate_series(1, len(w) - 1)])
            AS pair
          FROM w WHERE len(w) >= 2)
        SELECT pair, COUNT(*) AS n FROM pairs GROUP BY 1
        ORDER BY n DESC, pair LIMIT 20""")),

    // ----- BPE tokenizer TRAINING (the missing middle) ---------------------
    // pipeline_bpe_pairs is one iteration and text_bpe_apply is
    // inference; this trains the merge list itself (Sennrich 2016).
    // The 100 TB shape is the word-dictionary trick every production
    // trainer uses: corpus -> (word, count) in ONE distributed shuffle,
    // then a deterministic TakeOrdered(200) bounds the artifact the
    // 40-merge loop iterates over ON THE DRIVER (the k-means-centroid /
    // PQ-codebook precedent — O(vocab), O(1) in corpus size; the
    // corpus is never touched again). Ties break on the
    // lexicographically smallest (left, right), pinned identically in
    // the independent CPython trainer tools/bpe_oracle.py, which
    // BpeTrainSpec runs over the same archive bytes. The corpus is a
    // zip of pseudo-word shards read through the `zip` DSv2 source —
    // source composition, and a merge sequence that is a constant of
    // the synthesis formulas (hence an honest VALUES oracle).
    Q("text_bpe_train",
      (s, d) => {
        import s.implicits._
        val dir = BpeTrain.ensureFixture("/tmp/graft_bpe_fixture")
        val dict = s.read.format("zip").load(dir)
          .select(explode(split($"data".cast("string"), " ")).as("w"))
          .groupBy($"w").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("w")).limit(200)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val merges = BpeTrain.train(dict, 40)
        s.createDataFrame(merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1, a, b, a + b, c)
        }).toDF("step", "lhs", "rhs", "merged", "pair_count")
      },
      Some(bpeTrainOracle)),

    // ----- BPE merge application (tokenizer inference) --------------------
    // The other half of the tokenizer story: `pipeline_bpe_pairs` is one
    // training iteration; this op APPLIES a trained, ordered merge list to
    // every document — the shape of production tokenization over 100 TB.
    // The merge list is a small offline artifact (here a fixed literal,
    // the top pairs this corpus actually trains), so application is a
    // stateless per-row expression chain: no shuffle, no UDF, fully
    // inside whole-stage codegen (`StringReplace` is codegen'd).
    //
    // Encoding: each word becomes space-separated symbols with a leading
    // space (" k e y "); word boundaries are '|' so merges can never
    // cross words. A merge (a,b)->ab is `replace(" a b ", " ab ")`,
    // applied twice because single-pass replace is non-overlapping
    // left-to-right (the second pass catches occurrences whose leading
    // space was consumed by the previous match). Both engines share
    // replace()'s leftmost-non-overlapping semantics, and BOTH the Spark
    // expression and the oracle SQL below are generated from the same
    // Scala merge list, so they cannot drift.
    {
      Q("text_bpe_apply",
        (s, d) => {
          import s.implicits._
          Tables.documents(s, d)
            .select($"doc_id",
              length(regexp_replace($"text", " ", "")).cast("long")
                .as("tok_before"),
              expr(s"size(filter(split(trim($sparkEnc), ' '), x -> x <> '|'))")
                .cast("long").as("tok_after"))
            .withColumn("compression",
              $"tok_before".cast("double") / $"tok_after")
        },
        Some(s"""SELECT doc_id,
            length(replace(text, ' ', '')) AS tok_before,
            len(list_filter(string_split(trim($duckEnc), ' '),
                            x -> x <> '|')) AS tok_after,
            CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(list_filter(string_split(trim($duckEnc), ' '),
                                x -> x <> '|')) AS compression
          FROM documents"""))
    },

    // ----- tokenizer fertility audit (per language × source) --------------
    // THE multilingual-tokenizer health metric: fertility = BPE tokens
    // per word. A tokenizer trained lopsidedly spends several tokens
    // per word on under-represented languages, silently inflating
    // their training cost and shrinking their effective context — the
    // per-(lang, source) rollup is how a corpus owner catches that
    // before training. Reuses the SAME generated merge chain as
    // text_bpe_apply (one shared Scala merge list emits both engines'
    // expressions, so tokenizer and audit cannot drift). Numerics:
    // token and word counts are exact BIGINT sums; fertility is ONE
    // IEEE division per output row. Per-row encode is stateless
    // codegen'd string work; ONE shuffle on the tiny (lang, source)
    // key with map-side partials.
    {
      Q("text_token_fertility",
        (s, d) => {
          import s.implicits._
          Tables.documents(s, d)
            .select($"lang", $"source",
              size(split($"text", " ")).cast("long").as("n_words"),
              expr(s"size(filter(split(trim($sparkEnc), ' '), x -> x <> '|'))")
                .cast("long").as("n_tokens"))
            .groupBy($"lang", $"source")
            .agg(count(lit(1)).as("n_docs"),
              sum($"n_words").as("sum_words"),
              sum($"n_tokens").as("sum_tokens"))
            .withColumn("fertility",
              $"sum_tokens".cast("double") / $"sum_words")
        },
        Some(s"""WITH per_doc AS (
            SELECT lang, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
              CAST(len(list_filter(string_split(trim($duckEnc), ' '),
                                   x -> x <> '|')) AS BIGINT) AS n_tokens
            FROM documents)
          SELECT lang, source, COUNT(*) AS n_docs,
            CAST(SUM(n_words) AS BIGINT) AS sum_words,
            CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
            CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words) AS fertility
          FROM per_doc GROUP BY 1, 2"""))
    },

    // ----- vocabulary growth curve (Heaps' law, phrase level) -------------
    // The corpus-planning curve: how many NEW distinct 3-gram phrases
    // each successive slice of the corpus contributes — the empirical
    // Heaps-law estimate that answers "is more of this source still
    // adding content, or only repeating it" (phrase level, because a
    // corpus exhausts its WORD vocabulary almost immediately — this one
    // in the first decile — while phrase novelty keeps discriminating).
    // Growth is defined over the stable doc_id order (ingestion order),
    // so the answer is a pure function of the data: each phrase is
    // attributed to the decile of its FIRST occurrence (min doc_id — an
    // order-free aggregate), and the cumulative vocabulary at decile k
    // is a running sum over ten rows. Scale: one shuffle on the phrase
    // key (min-aggregate), a ten-group rollup, and a ten-row window —
    // the curve costs one pass however big the corpus.
    Q("text_vocab_growth",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val nDocs = Tables.documents(s, d).count()
        val firstSeen = Tables.documents(s, d)
          .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
          .filter(size($"ws") >= 3)
          .select($"doc_id", explode(expr(
            "transform(sequence(0, size(ws) - 3), i -> " +
              "concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("g"))
          .groupBy($"g").agg(min($"doc_id").as("first_doc"))
        firstSeen
          .select(least(expr(s"(first_doc * 10) DIV ${nDocs}L"), lit(9L))
            .cast("int").as("decile"))
          .groupBy($"decile")
          .agg(count(lit(1)).as("new_phrases"))
          .withColumn("cum_vocab", sum($"new_phrases").over(
            Window.orderBy($"decile").rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
      },
      Some("""WITH fs AS (
          SELECT g, MIN(doc_id) AS first_doc
          FROM (
            SELECT doc_id,
              unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      FOR i IN generate_series(1, len(ws) - 2)]) AS g
            FROM (SELECT doc_id,
                    string_split_regex(lower(text), '\s+') AS ws
                  FROM documents)
            WHERE len(ws) >= 3)
          GROUP BY 1),
        n AS (SELECT COUNT(*) AS nd FROM documents),
        dec AS (
          SELECT CAST(LEAST(first_doc * 10 // nd, 9) AS INT) AS decile
          FROM fs, n)
        SELECT decile, COUNT(*) AS new_phrases,
          CAST(SUM(COUNT(*)) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        FROM dec GROUP BY decile"""))
    ,

    // ----- Gopher-style rule battery (per-rule flags + keep) --------------
    // The document-level heuristic filter battery of Gopher (Rae et al.
    // 2021, table A1) / C4: word-count bounds, mean-word-length bounds,
    // symbol-to-word ratio, fraction of alphabetic words, bullet-line
    // and ellipsis-line fractions, required stop words — each exposed as
    // its own flag (pipelines tune rules individually) plus the AND'd
    // keep decision. All comparisons are integer cross-multiplications
    // (10 * n_hash <= n_words, never n_hash/n_words <= 0.1), so rule
    // boundaries are exact and the oracle hash-matches bit-for-bit.
    //
    // The synthetic corpus is single-spaced lowercase prose with no
    // punctuation, so the rules would all trivially pass; the op first
    // DECORATES the word stream deterministically from doc_id — known
    // failure populations per rule (the snapshot_diff fixture idiom):
    //   %19==6: every 2nd word -> 'a'        (crushes mean word length)
    //   %7==1:  every 6th word -> '#'        (symbol ratio > 0.1)
    //   %9==3:  every 4th word -> '12345'    (alpha fraction < 0.8)
    //   %15==5: every line bulleted; %5==0: every 3rd line
    //   %6==2:  every 2nd line ends '...'
    // and the stats then PARSE the decorated lines back (left/right
    // string tests), so both engines compute from the same derived text,
    // not from closed-form counts. Scale: pure per-row projection, one
    // pass, no shuffle, no UDF — everything is codegen'd higher-order
    // built-ins; output O(docs).

    Q("text_gopher_rules",
      (s, d) => gopherFlags(s, d),
      Some(s"""WITH $gopherCtes
        SELECT *, flag_words AND flag_wlen AND flag_symbol AND flag_alpha
            AND flag_bullets AND flag_ellipsis AND flag_stop AS keep
        FROM flags""")),

    // ----- filter-funnel attrition report ----------------------------------
    // The curation-ops view of the rule battery: apply the rules in a
    // FIXED order and report per-stage attrition (n_in → n_out) — the
    // table that says which rule is doing the cutting and which is
    // dead weight. Rides the SAME gopherFlags relation and the SAME
    // shared oracle CTEs as text_gopher_rules (one rule-math source);
    // cumulative survival folds in ONE aggregation over the flag
    // projection, and the 7-row funnel is built from that single row —
    // one pass at any corpus size.
    Q("pipeline_filter_funnel",
      (s, d) => {
        import s.implicits._
        val c = gopherFlags(s, d).selectExpr(
          "CAST(flag_words AS LONG) AS c1",
          "CAST(flag_words AND flag_wlen AS LONG) AS c2",
          "CAST(flag_words AND flag_wlen AND flag_symbol AS LONG) AS c3",
          "CAST(flag_words AND flag_wlen AND flag_symbol AND flag_alpha" +
            " AS LONG) AS c4",
          "CAST(flag_words AND flag_wlen AND flag_symbol AND flag_alpha" +
            " AND flag_bullets AS LONG) AS c5",
          "CAST(flag_words AND flag_wlen AND flag_symbol AND flag_alpha" +
            " AND flag_bullets AND flag_ellipsis AS LONG) AS c6",
          "CAST(keep AS LONG) AS c7")
        c.agg(count(lit(1)).as("n0"),
            sum($"c1").as("s1"), sum($"c2").as("s2"),
            sum($"c3").as("s3"), sum($"c4").as("s4"),
            sum($"c5").as("s5"), sum($"c6").as("s6"),
            sum($"c7").as("s7"))
          .select(explode(expr("""array(
            struct(1 AS stage, 'words' AS rule, n0 AS n_in, s1 AS n_out),
            struct(2 AS stage, 'wlen' AS rule, s1 AS n_in, s2 AS n_out),
            struct(3 AS stage, 'symbol' AS rule, s2 AS n_in, s3 AS n_out),
            struct(4 AS stage, 'alpha' AS rule, s3 AS n_in, s4 AS n_out),
            struct(5 AS stage, 'bullets' AS rule, s4 AS n_in,
              s5 AS n_out),
            struct(6 AS stage, 'ellipsis' AS rule, s5 AS n_in,
              s6 AS n_out),
            struct(7 AS stage, 'stop' AS rule, s6 AS n_in,
              s7 AS n_out))""")).as("r"))
          .select($"r.stage".as("stage"), $"r.rule".as("rule"),
            $"r.n_in".as("n_in"), $"r.n_out".as("n_out"),
            ($"r.n_in" - $"r.n_out").as("n_dropped"))
      },
      Some(s"""WITH $gopherCtes,
        c AS (
          SELECT
            CAST(flag_words AS BIGINT) AS c1,
            CAST(flag_words AND flag_wlen AS BIGINT) AS c2,
            CAST(flag_words AND flag_wlen AND flag_symbol
              AS BIGINT) AS c3,
            CAST(flag_words AND flag_wlen AND flag_symbol
              AND flag_alpha AS BIGINT) AS c4,
            CAST(flag_words AND flag_wlen AND flag_symbol
              AND flag_alpha AND flag_bullets AS BIGINT) AS c5,
            CAST(flag_words AND flag_wlen AND flag_symbol
              AND flag_alpha AND flag_bullets AND flag_ellipsis
              AS BIGINT) AS c6,
            CAST(flag_words AND flag_wlen AND flag_symbol
              AND flag_alpha AND flag_bullets AND flag_ellipsis
              AND flag_stop AS BIGINT) AS c7
          FROM flags),
        t AS (
          SELECT COUNT(*) AS n0, SUM(c1) AS s1, SUM(c2) AS s2,
            SUM(c3) AS s3, SUM(c4) AS s4, SUM(c5) AS s5,
            SUM(c6) AS s6, SUM(c7) AS s7
          FROM c)
        SELECT v.stage, v.rule,
          CAST(v.n_in AS BIGINT) AS n_in,
          CAST(v.n_out AS BIGINT) AS n_out,
          CAST(v.n_in - v.n_out AS BIGINT) AS n_dropped
        FROM t, LATERAL (
          SELECT * FROM (VALUES
            (1, 'words', t.n0, t.s1), (2, 'wlen', t.s1, t.s2),
            (3, 'symbol', t.s2, t.s3), (4, 'alpha', t.s3, t.s4),
            (5, 'bullets', t.s4, t.s5), (6, 'ellipsis', t.s5, t.s6),
            (7, 'stop', t.s6, t.s7))
          AS v(stage, rule, n_in, n_out)) v"""))
  )
}
