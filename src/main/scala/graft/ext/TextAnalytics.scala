package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** Text-analysis operators for training-data pipelines (north star):
  * marker-based language ID, quality scoring, corpus token statistics,
  * and winnowing-style document fingerprinting. All pure codegen'd
  * expressions over the documents table — per-row work with one optional
  * shuffle for corpus-level aggregation.
  */
object TextAnalytics {

  private def toks: Column = split(col("text"), " ")

  /** Top-20 stopword marker arrays per language (ASCII-only so the
    * literal lists round-trip identically through the oracle SQL).
    * Real language-ID swaps richer tables in; the dataflow — literal
    * arrays compiled into per-row codegen'd filters, broadcast-free —
    * is the part that matters at scale. */
  private[ext] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is",
    "it", "that", "on", "for", "as", "with", "was", "at", "by", "an",
    "be", "this", "from")
  private[ext] val stopDe = Seq("der", "die", "das", "und", "zu", "ist",
    "es", "dass", "auf", "als", "mit", "war", "bei", "von", "ein",
    "sein", "nicht", "aus", "dem", "den")
  private[ext] val stopFr = Seq("le", "la", "les", "et", "est", "il",
    "que", "sur", "pour", "avec", "par", "un", "une", "ce", "dans",
    "du", "des", "au", "pas", "ne")

  /** Marker-overlap scoring + argmax prediction over (doc_id, lang, text)
    * rows — factored out of q36 so TextAnalyticsSpec can drive it with
    * real multi-language sentences (the fixture vocabulary is
    * English-only, so only the spec can exercise de/fr prediction).
    * Ties break by en > de > fr priority (deterministic in both
    * engines); zero overlap everywhere falls back to "und". */
  private[ext] def langScores(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def score(stops: Seq[String]): Column =
      size(filter(array_distinct(split(col("text"), " ")),
        x => x.isin(stops.map(lit(_)): _*))).cast("long")
    docs
      .select(col("doc_id"), col("lang"),
        score(stopEn).as("en_score"), score(stopDe).as("de_score"),
        score(stopFr).as("fr_score"))
      .withColumn("predicted",
        when(col("en_score") >= col("de_score") &&
          col("en_score") >= col("fr_score") && col("en_score") > 0, "en")
          .when(col("de_score") >= col("fr_score") &&
            col("de_score") > 0, "de")
          .when(col("fr_score") > 0, "fr")
          .otherwise("und"))
  }

  private[ext] def sqlIn(stops: Seq[String]): String =
    stops.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Marker-token language ID (word-level n-gram heuristic, n=1) over
    * three top-20 stopword tables: per-language score = |distinct tokens
    * ∩ markers|, prediction = deterministic argmax. */
  private val q36LangId = QueryDef(
    (s, dir) => langScores(Tables(s, dir, "documents")).orderBy("doc_id"),
    s"""WITH sc AS (SELECT doc_id, lang,
      |    CAST(len(list_filter(list_distinct(string_split(text, ' ')),
      |      x -> x IN ${sqlIn(stopEn)})) AS BIGINT) AS en_score,
      |    CAST(len(list_filter(list_distinct(string_split(text, ' ')),
      |      x -> x IN ${sqlIn(stopDe)})) AS BIGINT) AS de_score,
      |    CAST(len(list_filter(list_distinct(string_split(text, ' ')),
      |      x -> x IN ${sqlIn(stopFr)})) AS BIGINT) AS fr_score
      |  FROM documents)
      |SELECT doc_id, lang, en_score, de_score, fr_score,
      |       CASE WHEN en_score >= de_score AND en_score >= fr_score
      |                 AND en_score > 0 THEN 'en'
      |            WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
      |            WHEN fr_score > 0 THEN 'fr'
      |            ELSE 'und' END AS predicted
      |FROM sc ORDER BY doc_id""")

  /** Truncate to 6 decimals via floor — unlike round(), floor has no
    * tie-break semantics, so when both engines compute a bit-identical
    * double (exact rational like m/128 included) the result is always
    * identical. Used for ratios of small integers where round-half ties
    * are actually reachable. */
  private def trunc6(c: Column): Column = floor(c * lit(1e6)) / lit(1e6)

  /** Quality scoring: token counts, type/token ratio, mean token length,
    * stopword ratio, and a composite score — the length/punct/stopword
    * family from data-quality filtering pipelines. All ratios are exact
    * integer divisions evaluated identically in both engines, truncated
    * (not rounded — see trunc6) to 6 decimals. */
  private val q37Quality = QueryDef(
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), toks.as("w"))
        .select(
          col("doc_id"),
          col("n_chars"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"),
          trunc6(size(array_distinct(col("w"))).cast("double") /
            size(col("w"))).as("type_token_ratio"),
          trunc6(aggregate(transform(col("w"), x => length(x)), lit(0.0),
            (acc, x) => acc + x.cast("double")) / size(col("w")))
            .as("avg_token_len"),
          trunc6(size(filter(col("w"), x => x.isin("the", "a")))
            .cast("double") / size(col("w"))).as("stopword_ratio"))
        .withColumn("quality_score",
          trunc6(lit(0.5) * col("type_token_ratio") +
            lit(0.5) * (lit(1.0) - col("stopword_ratio"))))
        .orderBy("doc_id"),
    """WITH base AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
      |             FROM documents),
      |m AS (
      |  SELECT doc_id, n_chars,
      |         CAST(len(w) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |         floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 1000000)
      |           / 1000000 AS type_token_ratio,
      |         floor(list_sum(list_transform(w,
      |           x -> CAST(length(x) AS DOUBLE))) / len(w) * 1000000)
      |           / 1000000 AS avg_token_len,
      |         floor(CAST(len(list_filter(w, x -> x IN ('the', 'a')))
      |           AS DOUBLE) / len(w) * 1000000) / 1000000 AS stopword_ratio
      |  FROM base)
      |SELECT doc_id, n_chars, n_tokens, n_distinct, type_token_ratio,
      |       avg_token_len, stopword_ratio,
      |       floor((0.5 * type_token_ratio + 0.5 * (1.0 - stopword_ratio))
      |         * 1000000) / 1000000 AS quality_score
      |FROM m ORDER BY doc_id""")

  /** Corpus token frequencies, top 20 — explode + count, the canonical
    * two-phase (partial/final) aggregation; at 100 TB the map-side combine
    * reduces each partition to |vocab| rows before the shuffle. */
  private val q38TokenTopk = QueryDef(
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(toks).as("token"))
        .groupBy("token")
        .agg(count("*").as("freq"))
        .orderBy(desc("freq"), asc("token"))
        .limit(20),
    """SELECT token, count(*) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY freq DESC, token LIMIT 20""")

  /** Winnowing-style fingerprint: md5 over word 5-grams, keep the minimum
    * digest per document. Near-identical documents share the minimum with
    * high probability; the fingerprint is a fixed-width shuffle key for
    * cross-corpus matching. */
  private val q39Fingerprint = QueryDef(
    (s, dir) =>
      Tables.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(0, size(w) - 5), " +
              "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"))
            .as("g"))
        .groupBy("doc_id")
        .agg(min(md5(col("g"))).as("fingerprint"),
          count("*").as("n_grams"))
        .orderBy("doc_id"),
    """WITH sub AS (SELECT doc_id, string_split(text, ' ') AS l
      |            FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |g AS (SELECT doc_id,
      |        md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
      |            l[i+3] || ' ' || l[i+4]) AS h
      |      FROM sub, UNNEST(generate_series(1, len(l)-4)) AS t(i))
      |SELECT doc_id, min(h) AS fingerprint, count(*) AS n_grams
      |FROM g GROUP BY doc_id ORDER BY doc_id""")

  /** Regex (BPE-ish) token counting: word-or-punctuation segmentation via
    * regexp_extract_all, compared against whitespace token counts — the
    * two tokenizer families a data pipeline meters corpus size with. */
  private val q52TokenCount = QueryDef(
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
            .cast("long").as("re_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy("doc_id"),
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
      |         AS re_tokens,
      |       CAST(length(text) AS BIGINT) AS n_chars_actual
      |FROM documents ORDER BY doc_id""")

  /** Cross-document contamination check — the decontamination primitive
    * for eval/train separation: surface 8-gram shingles that appear in
    * more than one document (a long verbatim n-gram shared between a
    * training doc and a benchmark is the standard leakage signal).
    *
    * Dataflow (the 100 TB shape): the corpus-wide shuffle is keyed on
    * `xxhash64(shingle)` — an 8-byte long — never on the ~50-byte raw
    * 8-gram string, so exchange bytes are ~6× smaller than the naive
    * string-keyed aggregation. Winners are selected by a tie-break-
    * independent df threshold (the df of the 50th row is the same under
    * any ordering of equal dfs), and only the winning hashes are resolved
    * back to strings by a second corpus pass that is broadcast-filtered
    * before any shuffle. The duplicated agg subtree collapses to one
    * physical exchange via ReuseExchange. Output is top-k, never the full
    * pair list. */
  private val q58Contamination = QueryDef(
    (s, dir) => {
      // spread before the 8-gram hashing — both the df pass and the
      // winner-resolution pass re-run it, and it is the heavy map stage
      val words = Tables.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
      // per-doc distinct shingle HASHES: longs cross the shuffle, not text
      val hashed = words.select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 7), " +
          "i -> xxhash64(array_join(slice(w, i, 8), ' '))))")).as("h"))
      val byHash = hashed.groupBy("h")
        .agg(count(lit(1)).as("df"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .filter(col("df") >= 2)
      // df of the 50th row — identical under any tie-break among equal dfs,
      // so selecting df >= thresh captures every string-order winner
      val thresh = byHash.orderBy(desc("df")).limit(50)
        .agg(min(col("df")).as("df_min"))
      val winners = byHash.join(broadcast(thresh), col("df") >= col("df_min"))
        .select("h", "df", "first_doc", "last_doc")
      // resolve winning hashes to strings: broadcast semi-join prunes the
      // re-scan to the handful of winner shingles before any shuffle
      // collision guard: a 64-bit collision between distinct winning
      // shingles would silently inflate df and pick one string
      // arbitrarily — vanishingly unlikely, but fail LOUDLY (raise_error
      // on the offending hash) instead of surfacing as an undiagnosable
      // oracle mismatch
      val resolved = words.select(explode(expr(
          "array_distinct(transform(sequence(1, size(w) - 7), " +
            "i -> array_join(slice(w, i, 8), ' ')))")).as("sh"))
        .select(col("sh"), xxhash64(col("sh")).as("h"))
        .join(broadcast(winners.select("h")), Seq("h"), "left_semi")
        .groupBy("h")
        .agg(min("sh").as("sh0"), countDistinct("sh").as("nsh"))
        .select(col("h"),
          when(col("nsh") === 1, col("sh0")).otherwise(raise_error(concat(
            lit("xxhash64 collision: "), col("nsh").cast("string"),
            lit(" distinct shingles share hash "), col("h").cast("string"))))
            .as("sh"))
      winners.join(broadcast(resolved), Seq("h"))
        .select("sh", "df", "first_doc", "last_doc")
        .orderBy(desc("df"), asc("sh"))
        .limit(50)
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |sh AS (SELECT DISTINCT doc_id,
      |              array_to_string(l[i:i+7], ' ') AS sh
      |       FROM w, UNNEST(generate_series(1, len(l) - 7)) t(i))
      |SELECT sh, CAST(count(*) AS BIGINT) AS df,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM sh GROUP BY sh HAVING count(*) >= 2
      |ORDER BY df DESC, sh LIMIT 50""")

  /** BPE-style merge vocabulary for q71/q73 — full high-frequency words
    * plus sub-word merges, the shape a learned tokenizer's merge table
    * has. Greedy longest-match is encoded ORDER-FREE of engine internals:
    * the alternation lists entries longest-first, and both Java regex
    * (Spark) and RE2 (DuckDB) use leftmost-FIRST alternation semantics,
    * so at every position the longest matching vocab entry wins in both
    * engines; `[^ ]` is the single-char fallback token (whitespace is
    * never a token). Entries are letter-only literals — no regex
    * metacharacters, no escaping divergence. */
  private[ext] val mergeVocab: Seq[String] = Seq(
    // full-word merges (high-frequency corpus words)
    "customer", "window", "stream", "vector", "filter", "column",
    "table", "value", "order", "query", "small", "group", "batch",
    "merge", "spark", "scan", "slow", "fast", "hash", "sort", "line",
    "data", "join", "part",
    // sub-word merges (BPE intermediate units)
    "tion", "ing", "ter", "ble", "str", "gro",
    "th", "he", "ke", "ey", "ro", "ow", "li", "ne", "jo", "in",
    "ag", "gg", "bi", "ig", "pa", "rt", "da", "ta", "er", "or",
    "st", "an", "sc", "gr")
  private[ext] val vocabPattern: String =
    mergeVocab.sortBy(v => (-v.length, v)).mkString("", "|", "|[^ ]")

  /** Vocab-driven (BPE-style) token counting — the number an LLM
    * pipeline actually budgets by, vs q52's whitespace/regex counts:
    * greedy longest-match over the ~54-entry merge vocabulary, evaluated
    * as ONE codegen'd regexp_extract_all per row (the merge table is
    * compiled into the pattern — broadcast-free, shuffle-free).
    * q73 re-bases sequence packing on this count. */
  private val q71VocabTokens = QueryDef(
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(vocabPattern), lit(0)))
            .cast("long").as("vocab_tokens"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"))
        .withColumn("tokens_per_word",
          trunc6(col("vocab_tokens").cast("double") / col("ws_tokens")))
        .orderBy("doc_id"),
    s"""SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '$vocabPattern')) AS BIGINT)
      |         AS vocab_tokens,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       floor(CAST(len(regexp_extract_all(text, '$vocabPattern'))
      |           AS DOUBLE) / len(string_split(text, ' ')) * 1000000)
      |         / 1000000 AS tokens_per_word
      |FROM documents ORDER BY doc_id""")

  /** Within-document repetition signals — the Gopher-rules quality
    * family that q37's length/stopword ratios do not cover: natural text
    * rarely repeats itself, while boilerplate-generated and degenerate
    * (looping) text does. Per document: the fraction of bigram
    * occurrences claimed by the single most frequent bigram
    * (`top_bigram_frac` — Gopher thresholds ~0.2) and the fraction of
    * trigram occurrences whose trigram repeats within the doc
    * (`dup_trigram_frac`). Complements q72/q105, which measure CROSS-doc
    * duplication: a doc can be corpus-unique yet internally degenerate,
    * and only this signal catches it. Docs shorter than one trigram
    * carry no signal and are excluded.
    *
    * Scale shape: grams explode per-row; counting is a map-side-
    * combinable groupBy on (doc_id, gram) — the gram string never
    * travels beyond its combiner-reduced (doc_id, gram, count) row —
    * then one per-doc rollup; the bigram and trigram rollups co-key on
    * doc_id for the final join. Nothing corpus-global anywhere. */
  private val q106Repetition = QueryDef(
    (s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 3)
      def grams(n: Int) = base.select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> array_join(slice(w, i, $n), ' '))")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val bi = grams(2).groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
        .withColumn("top_bigram_frac",
          trunc6(col("top_bigram_n").cast("double") / col("n_bigrams")))
      val tri = grams(3).groupBy("doc_id")
        .agg(sum("c").as("n_trigrams"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            .as("dup_trigram_n"))
        .withColumn("dup_trigram_frac",
          trunc6(col("dup_trigram_n").cast("double") / col("n_trigrams")))
      bi.join(tri, Seq("doc_id")).orderBy("doc_id")
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |bg AS (SELECT doc_id, array_to_string(l[i:i+1], ' ') AS g,
      |         count(*) AS c
      |       FROM w, UNNEST(generate_series(1, len(l) - 1)) t(i)
      |       GROUP BY 1, 2),
      |tg AS (SELECT doc_id, array_to_string(l[i:i+2], ' ') AS g,
      |         count(*) AS c
      |       FROM w, UNNEST(generate_series(1, len(l) - 2)) t(i)
      |       GROUP BY 1, 2),
      |b AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |        CAST(max(c) AS BIGINT) AS top_bigram_n
      |      FROM bg GROUP BY 1),
      |t3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
      |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
      |           AS dup_trigram_n
      |       FROM tg GROUP BY 1)
      |SELECT b.doc_id, n_bigrams, top_bigram_n,
      |       floor(CAST(top_bigram_n AS DOUBLE) / n_bigrams * 1000000)
      |         / 1000000 AS top_bigram_frac,
      |       n_trigrams, dup_trigram_n,
      |       floor(CAST(dup_trigram_n AS DOUBLE) / n_trigrams * 1000000)
      |         / 1000000 AS dup_trigram_frac
      |FROM b JOIN t3 ON b.doc_id = t3.doc_id
      |ORDER BY b.doc_id""")

  /** Two-corpus decontamination — the production form of q58: an eval
    * BENCHMARK corpus (here a deterministic `doc_id % 50 = 7` slice of
    * `documents`, standing in for a held-out benchmark table) is shielded
    * from the TRAINING corpus by flagging every training document that
    * shares any verbatim 8-gram with any eval document.
    *
    * Dataflow (the 100 TB shape): the eval side is tiny relative to the
    * training corpus (benchmarks are MBs, corpora are TBs), so its
    * distinct shingle hashes aggregate in a small shuffle and the result
    * — (xxhash64, first eval doc) — is BROADCAST. The training corpus is
    * then pruned by a map-side broadcast hash join at the scan: clean
    * documents (the overwhelming majority) never reach any exchange, and
    * the only corpus-wide shuffle is the per-contaminated-doc count over
    * the handful of matching rows. Keys crossing the join are 8-byte
    * xxhash64 longs (q58's discipline), never the ~50-byte shingle
    * strings. Output is the flag table a curation DAG anti-joins against
    * before training. */
  private val q69Decontamination = QueryDef(
    (s, dir) => {
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
      // per-doc distinct 8-gram shingle hashes (8-byte longs, not text)
      val shingles = words.select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 7), " +
          "i -> xxhash64(array_join(slice(w, i, 8), ' '))))")).as("h"))
      // the eval corpus' shingle set: small by construction -> broadcast
      val evalSet = shingles.filter(col("doc_id") % 50 === 7)
        .groupBy("h").agg(min("doc_id").as("eval_doc"))
      shingles.filter(col("doc_id") % 50 =!= 7)
        .join(broadcast(evalSet), Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_shingles"),
          min("eval_doc").as("first_matching_eval_doc"))
        .orderBy("doc_id")
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |sh AS (SELECT DISTINCT doc_id,
      |              array_to_string(l[i:i+7], ' ') AS sh
      |       FROM w, UNNEST(generate_series(1, len(l) - 7)) t(i)),
      |ev AS (SELECT sh, min(doc_id) AS eval_doc FROM sh
      |       WHERE doc_id % 50 = 7 GROUP BY sh)
      |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles,
      |       min(ev.eval_doc) AS first_matching_eval_doc
      |FROM sh s JOIN ev ON s.sh = ev.sh
      |WHERE s.doc_id % 50 <> 7
      |GROUP BY s.doc_id ORDER BY doc_id""")

  /** The q107 dataflow over any (doc_id, text) relation — factored out
    * so TextAnalyticsSpec can drive the clean-chunks-survive case the
    * fixture's short contaminated docs never reach (their only chunk is
    * the contaminated one, so clean_tokens is 0 corpus-wide). Eval
    * split rule is q69's doc_id % 50 = 7. */
  private[ext] def chunkDecon(docs: DataFrame): DataFrame = {
      val chunks = docs
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(expr("sequence(0, size(tk) - 1, 40)")).as("start"))
        .select(col("doc_id"),
          expr("cast(start div 40 as bigint)").as("chunk_id"),
          expr("slice(tk, start + 1, 50)").as("ck"))
      val evalSh = docs
        .filter(col("doc_id") % 50 === 7)
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 8)
        .select(explode(expr(
          "array_distinct(transform(sequence(1, size(w) - 7), " +
            "i -> xxhash64(array_join(slice(w, i, 8), ' '))))")).as("h"))
        .distinct()
      val bad = chunks.filter(col("doc_id") % 50 =!= 7)
        .filter(size(col("ck")) >= 8)
        .select(col("doc_id"), col("chunk_id"), explode(expr(
          "transform(sequence(1, size(ck) - 7), " +
            "i -> xxhash64(array_join(slice(ck, i, 8), ' ')))")).as("h"))
        .join(broadcast(evalSh), Seq("h"))
        .select("doc_id", "chunk_id").distinct()
        .withColumn("bad", lit(true))
      chunks.filter(col("doc_id") % 50 =!= 7)
        .select(col("doc_id"), col("chunk_id"),
          size(col("ck")).cast("long").as("chunk_tokens"))
        .join(broadcast(bad), Seq("doc_id", "chunk_id"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad_chunks"),
          sum(when(col("bad").isNull, col("chunk_tokens")).otherwise(0L))
            .as("clean_tokens"))
        .filter(col("n_bad_chunks") >= 1)
        .orderBy("doc_id")
  }

  /** CHUNK-level decontamination — the surgical composition of q103's
    * sliding-window chunking with q69's two-corpus shielding: doc-level
    * decontamination (q69) throws away an entire training document when
    * one paragraph overlaps the eval benchmark, which at corpus scale
    * discards real signal. Here the eval corpus' verbatim-8-gram shield
    * is applied PER CHUNK (50 tokens, stride 40), and the verdict keeps
    * every clean chunk of a contaminated doc: per doc, the chunk counts
    * and the surviving clean-chunk token mass a trainer still gets.
    * Output rows only for docs with at least one contaminated chunk
    * (clean docs pass untouched — output ∝ contamination, q69's
    * discipline).
    *
    * Scale shape: the eval shingle-hash set broadcasts (benchmarks are
    * MBs); training chunks probe it map-side, so clean chunks never
    * reach an exchange; the contaminated (doc_id, chunk_id) set — ∝
    * contamination, not corpus — broadcasts back against the chunk
    * table; one per-doc rollup. 8-byte xxhash64 keys cross the join,
    * never shingle text (q58's discipline). */
  private val q107ChunkDecontamination = QueryDef(
    (s, dir) => chunkDecon(Tables(s, dir, "documents")),
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
      |           FROM documents),
      |c AS (SELECT doc_id, CAST(s // 40 AS BIGINT) AS chunk_id,
      |        list_slice(tk, s + 1, s + 50) AS ck
      |      FROM t, UNNEST(generate_series(0, len(tk) - 1, 40)) u(s)),
      |ev AS (SELECT DISTINCT array_to_string(l[i:i+7], ' ') AS sh
      |       FROM (SELECT string_split(text, ' ') AS l FROM documents
      |             WHERE doc_id % 50 = 7
      |               AND len(string_split(text, ' ')) >= 8) w,
      |            UNNEST(generate_series(1, len(l) - 7)) t(i)),
      |ts AS (SELECT doc_id, chunk_id,
      |         array_to_string(ck[i:i+7], ' ') AS sh
      |       FROM c, UNNEST(generate_series(1, len(ck) - 7)) t(i)
      |       WHERE doc_id % 50 <> 7),
      |bad AS (SELECT DISTINCT doc_id, chunk_id
      |        FROM ts JOIN ev USING (sh)),
      |agg AS (SELECT c.doc_id,
      |          CAST(count(*) AS BIGINT) AS n_chunks,
      |          CAST(sum(CASE WHEN b.chunk_id IS NOT NULL
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_chunks,
      |          CAST(sum(CASE WHEN b.chunk_id IS NULL
      |            THEN len(c.ck) ELSE 0 END) AS BIGINT) AS clean_tokens
      |        FROM c LEFT JOIN bad b
      |          ON c.doc_id = b.doc_id AND c.chunk_id = b.chunk_id
      |        WHERE c.doc_id % 50 <> 7 GROUP BY 1)
      |SELECT doc_id, n_chunks, n_bad_chunks, clean_tokens
      |FROM agg WHERE n_bad_chunks >= 1 ORDER BY doc_id""")

  /** BLOOM-FILTER decontamination — q69's scale escape hatch: when the
    * eval corpus outgrows an exact broadcast hash set (a 10 B-shingle
    * benchmark suite), the membership structure becomes a fixed-size
    * Bloom filter — here 4096 bits (64 longs) with k=4 probes — and the
    * train-side test a pure per-row expression against that bounded
    * state (the same pattern as Spark's own runtime bloom-filter join
    * pruning, and q81's literal codebook). No false negatives, so every
    * exactly-contaminated doc is still caught; the price is false
    * positives, WHICH THIS QUERY MEASURES: each flagged doc reports its
    * bloom count next to its exact count, so the output is
    * simultaneously the decontamination verdict and the filter's
    * observed FPR — the number that decides whether 4096 bits suffice.
    *
    * Oracle-exact despite being probabilistic: bit positions derive from
    * four disjoint 8-hex-digit slices of md5(shingle), which Spark
    * (conv base-16) and DuckDB (0x cast) compute identically, and the
    * filter WIDTH is a pure function of the eval corpus (smallest power
    * of two ≥ 32 × its distinct-shingle count — m/n ≈ 32 at k = 4,
    * ~2·10⁻⁴ per-shingle FPR), so both engines build the SAME bit set
    * and flag the SAME docs. Sizing from the data is part of the
    * operator, and the m/n ratio is chosen for DOC-level shielding: a
    * ~100-shingle document amplifies per-shingle FPR ~100×, so the
    * filter must be an order denser than the textbook ~1%-per-probe
    * sizing (measured: at m/n ≈ 8, 161 of 162 flagged fixture docs
    * were pure false positives; an undersized FIXED width saturates
    * outright). 32 bits/shingle is still ~200× smaller than the
    * broadcast hash set it replaces.
    *
    * CEILING of this representation: the filter is a LITERAL long
    * array planted in the plan (m/8 bytes riding every task closure /
    * codegen constant pool), which is comfortable to ~10⁷ eval
    * shingles (m = 2^29 bits, 64 MB) and tolerable to a few 10⁷; past
    * [[BloomMaxBits]] (2^31 bits = 256 MB) the derivation THROWS
    * rather than silently shipping a multi-GB literal. Beyond the cap
    * the same math scales two ways without changing the probe
    * expression: chunk the eval corpus into c independent filters of
    * ≤ cap bits each (test against each, OR the verdicts — FPR adds,
    * so re-derive m per chunk), or build the words as a DataFrame
    * aggregate and feed Spark's own `bloom_filter_agg`/`might_contain`
    * pair, which broadcasts the filter as exchange data instead of a
    * plan literal. */
  private[ext] val BloomMaxBits: Long = 1L << 31

  /** Filter width for `nEval` distinct eval shingles: the smallest
    * power of two ≥ 32·nEval (floor 4096 bits). Pure integer function
    * shared with the DuckDB oracle's `mm` CTE; throws past
    * [[BloomMaxBits]] — see the ceiling paragraph above. */
  private[ext] def bloomWidth(nEval: Long): Long = {
    var m = 4096L
    while (m < 32L * nEval) m <<= 1
    require(m <= BloomMaxBits,
      s"bloom width $m bits for $nEval eval shingles exceeds the " +
        s"$BloomMaxBits-bit literal-array ceiling; chunk the eval corpus " +
        "into independent filters or switch to bloom_filter_agg " +
        "(see q91's Scaladoc)")
    m
  }

  private val q91BloomDecontamination = QueryDef(
    (s, dir) => {
      val words = Tables.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
      val shingles = words.select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 7), " +
          "i -> array_join(slice(w, i, 8), ' ')))")).as("sh"))
        .withColumn("h", md5(col("sh")))
      val nEval = shingles.filter(col("doc_id") % 50 === 7)
        .select("sh").distinct().count()
      val m = bloomWidth(nEval)
      // k=4 positions per shingle from disjoint md5 slices
      val posArr =
        s"""transform(sequence(0, 3), i ->
          |  cast(conv(substring(h, 1 + i * 8, 8), 16, 10) as bigint)
          |    % $m)""".stripMargin
      // the eval side's m-bit filter: distinct bit positions OR-ed into
      // m/64 words, collected as BOUNDED driver state (m/64 longs — how
      // Spark's own InjectRuntimeFilter materializes its blooms)
      val bloomWords = shingles.filter(col("doc_id") % 50 === 7)
        .select(explode(expr(posArr)).as("p")).distinct()
        .groupBy(expr("cast(p div 64 as int)").as("wd"))
        .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(p % 64 as int)))")
          .as("bits"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val bloom: Seq[Long] =
        (0 until (m / 64).toInt).map(w => bloomWords.getOrElse(w, 0L))
      val bloomHit = expr(
        s"""forall($posArr, p ->
          |  (shiftright(element_at(__bloom, cast(p div 64 as int) + 1),
          |     cast(p % 64 as int)) & 1) = 1)""".stripMargin)
      val train = shingles.filter(col("doc_id") % 50 =!= 7)
      val nBloom = train.withColumn("__bloom", typedLit(bloom))
        .filter(bloomHit)
        .groupBy("doc_id").agg(count(lit(1)).as("n_bloom_shingles"))
      // exact eval membership for the SAME shingles — the FPR yardstick
      val evalExact = shingles.filter(col("doc_id") % 50 === 7)
        .select(col("h")).distinct()
      val nExact = train.join(broadcast(evalExact), Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_exact_shingles"))
      nBloom.join(nExact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bloom_shingles"),
          coalesce(col("n_exact_shingles"), lit(0L)).as("n_exact_shingles"),
          (col("n_bloom_shingles") -
            coalesce(col("n_exact_shingles"), lit(0L))).as("n_false_pos"))
        .orderBy("doc_id")
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |sh AS (SELECT DISTINCT doc_id,
      |              array_to_string(l[i:i+7], ' ') AS s
      |       FROM w, UNNEST(generate_series(1, len(l) - 7)) t(i)),
      |shp AS (SELECT doc_id, s, md5(s) AS h FROM sh),
      |mm AS (SELECT CAST(power(2, ceil(log2(
      |         greatest(32 * count(DISTINCT s), 4096)))) AS BIGINT) AS m
      |       FROM shp WHERE doc_id % 50 = 7),
      |ep AS (SELECT DISTINCT
      |         CAST(('0x' || substr(h, 1 + i * 8, 8)) AS BIGINT) % m AS p
      |       FROM shp, UNNEST([0, 1, 2, 3]) t(i), mm
      |       WHERE doc_id % 50 = 7),
      |tp AS (SELECT doc_id, s,
      |         CAST(('0x' || substr(h, 1 + i * 8, 8)) AS BIGINT) % m AS p
      |       FROM shp, UNNEST([0, 1, 2, 3]) t(i), mm
      |       WHERE doc_id % 50 <> 7),
      |-- a set bloom bit IS membership of the position in ep, so the
      |-- oracle tests the position set directly (no 1<<63 bit packing,
      |-- which DuckDB's checked shift rejects); false positives arise
      |-- identically, from position collisions between shingles
      |hit AS (SELECT doc_id, s FROM tp
      |        LEFT JOIN ep ON tp.p = ep.p
      |        GROUP BY doc_id, s
      |        HAVING sum(CASE WHEN ep.p IS NOT NULL THEN 1 ELSE 0 END) = 4),
      |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_shingles
      |       FROM hit GROUP BY 1),
      |evx AS (SELECT DISTINCT h FROM shp WHERE doc_id % 50 = 7),
      |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact_shingles
      |       FROM shp JOIN evx USING (h)
      |       WHERE doc_id % 50 <> 7 GROUP BY 1)
      |SELECT nb.doc_id, nb.n_bloom_shingles,
      |       CAST(coalesce(ne.n_exact_shingles, 0) AS BIGINT)
      |         AS n_exact_shingles,
      |       CAST(nb.n_bloom_shingles - coalesce(ne.n_exact_shingles, 0)
      |         AS BIGINT) AS n_false_pos
      |FROM nb LEFT JOIN ne ON nb.doc_id = ne.doc_id
      |ORDER BY nb.doc_id""")

  /** Sliding-window document CHUNKING — the step between curation and
    * embedding in every RAG / pretraining pipeline: split each doc into
    * windows of 50 tokens at stride 40 (10-token overlap, so no
    * boundary-straddling span is lost to both neighbors), one row per
    * chunk with its token count and an md5 fingerprint of the re-joined
    * chunk text — the fingerprint feeds q30's exact-dedup discipline at
    * CHUNK granularity (boilerplate that q72's paragraph split misses
    * when paragraph boundaries drift). The last window keeps its
    * partial tail (a trailing remnant shorter than the stride still
    * carries tokens a trainer wants).
    *
    * Scale shape: pure per-row generate-and-slice (explode of a
    * bounded offset sequence, no shuffle at all until a downstream
    * consumer groups by fp); chunk count per doc = ceil(n_tokens /
    * stride), output size ∝ corpus tokens × (window / stride). */
  private val q103Chunking = QueryDef(
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(expr("sequence(0, size(tk) - 1, 40)")).as("start"))
        .select(col("doc_id"),
          expr("cast(start div 40 as bigint)").as("chunk_id"),
          expr("slice(tk, start + 1, 50)").as("ck"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ck")).cast("long").as("chunk_tokens"),
          md5(array_join(col("ck"), " ")).as("fp"))
        .orderBy("doc_id", "chunk_id")
    },
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
      |           FROM documents),
      |c AS (SELECT doc_id, CAST(s // 40 AS BIGINT) AS chunk_id,
      |        list_slice(tk, s + 1, s + 50) AS ck
      |      FROM t, UNNEST(generate_series(0, len(tk) - 1, 40)) u(s))
      |SELECT doc_id, chunk_id,
      |       CAST(len(ck) AS BIGINT) AS chunk_tokens,
      |       md5(array_to_string(ck, ' ')) AS fp
      |FROM c ORDER BY doc_id, chunk_id""")

  val defs: Map[String, QueryDef] = Map(
    "q103_chunking" -> q103Chunking,
    "q36_lang_id" -> q36LangId,
    "q37_quality_score" -> q37Quality,
    "q38_token_topk" -> q38TokenTopk,
    "q39_fingerprint" -> q39Fingerprint,
    "q52_token_count" -> q52TokenCount,
    "q58_contamination" -> q58Contamination,
    "q69_decontamination" -> q69Decontamination,
    "q71_vocab_tokens" -> q71VocabTokens,
    "q91_bloom_decontamination" -> q91BloomDecontamination,
    "q106_repetition_signals" -> q106Repetition,
    "q107_chunk_decontamination" -> q107ChunkDecontamination,
  )
}
