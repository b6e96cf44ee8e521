package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Tables, TextAnalysis => TA}

/** Corpus-construction operators over the `documents` table — the steps
  * between a curated corpus and a token stream a trainer can consume:
  * global sequence packing (t17), per-doc keyword extraction (t18), and
  * corpus-level n-gram statistics (t19).
  *
  * Like the rest of the text family these are pure column-expression
  * plans (no UDFs → WholeStageCodegen) with bit-exact DuckDB oracles;
  * all ranking orders are total so LIMIT/top-k output is deterministic.
  */
object CorpusQueries {

  /** DuckDB equivalent of TextAnalysis.tokens(text). */
  private val toksSql = OracleSql.toksSql

  /** DuckDB equivalent of Portable.hash60. */
  private def hSql(x: String, seed: Int): String = OracleSql.hSql(x, seed)

  // ---- t17: global sequence packing (distributed prefix sum) ---------
  //
  // Assign every document its global token offset in doc_id order, then
  // derive which fixed-length training sequence it starts in — the
  // "concat and chunk every 2048 tokens" step of corpus construction.
  //
  // A naive `sum() OVER (ORDER BY doc_id)` is a SINGLE-partition window
  // — the classic scale killer. This is the two-level distributed
  // prefix sum instead:
  //   1. bucket = doc_id / bucketW (fixed-width ranges, deterministic —
  //      no sampled range partitioner);
  //   2. within-bucket exclusive cumsum: window PARTITIONED by bucket
  //      (parallel across buckets, each bucket is bounded);
  //   3. bucket totals (one tiny groupBy) get their own exclusive
  //      cumsum — |buckets| = N/bucketW rows, 500× smaller; at 100 TB
  //      you add a third level (bucket-of-buckets) the same way;
  //   4. broadcast-join the bucket offsets back: offset = boff + pre.
  // Net: one bounded window + one broadcast join instead of a global
  // sort through one task.

  private val bucketW = 500L
  private val seqLen = 2048L

  private val t17 = Q(
    "t17_sequence_pack",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        // REAL tokenizer economics: greedy longest-match subword counts
        // (one codegen'd expression), not the whitespace proxy — packing
        // budgets are only as real as the counts they pack
        .select(col("doc_id"),
          // coalesce: NULL-text parity with the oracle's LEFT JOIN + 0
          coalesce(TA.subwordCount(TA.tokens(col("text"))), lit(0L))
            .as("n_tokens"))
      graft.etl.PrefixSum
        .exclusive(docs, "doc_id", "n_tokens", "start_off", bucketW)
        .select(col("doc_id"), col("n_tokens"), col("start_off"),
          floor(col("start_off") / seqLen).cast("long").as("seq_id"),
          pmod(col("start_off"), lit(seqLen)).as("seq_pos"))
    },
    Some(s"""
      WITH RECURSIVE ${OracleSql.subwordCountCtes},
      t AS (
        SELECT d.doc_id, CAST(coalesce(subwc.bpe, 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN subwc USING (doc_id)),
      o AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS start_off
        FROM t)
      SELECT doc_id, n_tokens, start_off,
             start_off // $seqLen AS seq_id,
             start_off % $seqLen AS seq_pos
      FROM o
    """))

  // ---- t18: TF-IDF keyword extraction --------------------------------
  //
  // Top-5 keywords per document scored by tf/df. The corpus-size factor
  // N of classic tf·log(N/df) is constant per corpus, so it cannot
  // change any per-doc ranking — dropping it (and the log, which is
  // monotone) keeps the ordering identical while making the score exact
  // integer-ratio math, bit-reproducible across engines (no libm log).
  //
  // Scale shape: (doc, tok) term counts and the doc-frequency table are
  // both groupBys with map-side partial aggregation; the tf⋈df join is
  // a plain equi-join on the token (vocab-sized right side, ~uniform
  // key distribution); top-5 is a window on doc_id that only a doc's
  // own terms pass through. No corpus-sized sort anywhere.

  private val kKeywords = 5

  private val t18 = Q(
    "t18_tfidf_keywords",
    (s, d) => {
      val toks = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, Seq("tok"))
        .withColumn("score", round(col("tf").cast("double") / col("df"), 6))
      graft.etl.TopK
        .perGroup(scored, Seq(col("doc_id")),
          Seq(col("score").desc, col("tok").asc), kKeywords)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          col("score"), col("rnk"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id, tok, tf, df,
               round(CAST(tf AS DOUBLE) / df, 6) AS score
        FROM tf JOIN dfreq USING (tok)),
      r AS (
        SELECT *, CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, tok ASC)
               AS INTEGER) AS rnk
        FROM scored)
      SELECT doc_id, tok, tf, df, score, rnk FROM r WHERE rnk <= $kKeywords
    """))

  // ---- t19: corpus-level n-gram top-k --------------------------------
  //
  // The global vocabulary statistic (most frequent bigrams corpus-wide)
  // — one (gram) count groupBy with map-side combine, then a global
  // top-20 via ORDER BY + LIMIT, which Spark executes as
  // TakeOrderedAndProject: each partition keeps its local 20, the
  // driver merges 20×P rows — never a full sort of the gram table.
  // (n DESC, g ASC) is a total order, so LIMIT output is deterministic.

  private val kGrams = 20

  private val t19 = Q(
    "t19_ngram_topk",
    (s, d) => {
      Tables.spread(Tables.documents(s, d))
        .withColumn("_toks", TA.tokens(col("text")))
        .filter(size(col("_toks")) >= 2)
        .select(explode(TA.tokenBigrams(col("_toks"))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g").asc)
        .limit(kGrams)
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      bg AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || '_' || toks[i+1])) AS g
             FROM t WHERE len(toks) >= 2)
      SELECT g, count(*) AS n FROM bg GROUP BY g
      ORDER BY n DESC, g ASC LIMIT $kGrams
    """))

  // ---- t20: cross-document repeated-chunk removal --------------------
  //
  // The CCNet/C4 boilerplate filter: drop every text chunk that appears
  // (verbatim) in ≥ hotDf distinct documents, keep the rest of each doc
  // in order. This corpus has no newlines, so the "line" granularity is
  // consecutive 3-token chunks — same operator shape, different splitter.
  //
  // Scale shape: chunk doc-frequency is one groupBy with map-side
  // partial agg; the hot set is tiny by construction (a chunk must
  // repeat across ≥ hotDf docs to enter it), so the removal join is a
  // broadcast LEFT ANTI — the corpus is never shuffled by chunk. The
  // reassembly groupBy(doc_id) shuffles only surviving chunks, and
  // array_sort on the (idx, chunk) struct makes the rebuilt text
  // deterministic under any aggregation order.

  private val chunkTok = 3
  private val hotDf = 3

  private val t20 = Q(
    "t20_chunk_dedup",
    (s, d) => {
      val base = Tables.spread(Tables.documents(s, d))
        .withColumn("_toks", TA.tokens(col("text")))
        .withColumn("n_toks", size(col("_toks")).cast("long"))
      val chunks = base.filter(col("n_toks") > 0)
        .select(col("doc_id"), col("_toks"),
          explode(sequence(lit(0L),
            ((col("n_toks") - 1) / chunkTok).cast("long"))).as("idx"))
        .select(col("doc_id"), col("idx"),
          concat_ws(" ", slice(col("_toks"),
            (col("idx") * chunkTok + 1).cast("int"), lit(chunkTok))).as("chunk"))
      val hot = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= hotDf)
        .select(col("chunk"))
      val kept = chunks.join(broadcast(hot), Seq("chunk"), "left_anti")
      val reasm = kept.groupBy(col("doc_id"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("clean_text"),
          count(lit(1)).as("n_kept"))
      base
        .select(col("doc_id"),
          when(col("n_toks") > 0, ((col("n_toks") - 1) / chunkTok).cast("long") + 1)
            .otherwise(lit(0L)).as("n_chunks"))
        .join(reasm, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          col("n_chunks"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
      ch AS (
        SELECT doc_id, unnest(range(0, ((n - 1) // $chunkTok) + 1)) AS idx, toks
        FROM b WHERE n > 0),
      ck AS (
        SELECT doc_id, idx,
               array_to_string(list_slice(toks,
                 idx * $chunkTok + 1, idx * $chunkTok + $chunkTok), ' ') AS chunk
        FROM ch),
      hot AS (
        SELECT chunk FROM (
          SELECT chunk, count(DISTINCT doc_id) AS df FROM ck GROUP BY 1)
        WHERE df >= $hotDf),
      kept AS (
        SELECT doc_id, idx, chunk FROM ck
        WHERE chunk NOT IN (SELECT chunk FROM hot)),
      reasm AS (
        SELECT doc_id,
               array_to_string(list(chunk ORDER BY idx), ' ') AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY 1),
      nc AS (
        SELECT doc_id,
               CASE WHEN n > 0 THEN ((n - 1) // $chunkTok) + 1 ELSE 0 END AS n_chunks
        FROM b)
      SELECT nc.doc_id,
             coalesce(reasm.clean_text, '') AS clean_text,
             CAST(nc.n_chunks AS BIGINT) AS n_chunks,
             CAST(nc.n_chunks - coalesce(reasm.n_kept, 0) AS BIGINT) AS n_removed
      FROM nc LEFT JOIN reasm ON reasm.doc_id = nc.doc_id
    """))

  // ---- t21: temperature-scaled source mixing -------------------------
  //
  // Data-mixing across sources: keep each doc with probability
  // p(source) = sqrt(n_source / N) — the τ=2 temperature rebalance
  // (rare sources keep a larger FRACTION of their docs than big ones,
  // flattening the mixture). The draw is the portable hash60 of doc_id,
  // so every engine keeps the same sample; sqrt is IEEE
  // correctly-rounded, so the threshold is bit-identical too (pow(x, α)
  // for general α is libm-dependent — α = 1/2 is the deliberate choice
  // that keeps the oracle exact).
  //
  // Scale shape: source rates are one tiny groupBy (|sources| rows)
  // broadcast back; the corpus pass itself is scan → project → filter,
  // no corpus shuffle.

  private val t21 = Q(
    "t21_source_mix",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      val srcN = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      val rates = srcN.crossJoin(broadcast(total))
        .select(col("source"),
          sqrt(col("n_src").cast("double") / col("n_total")).as("p_keep"))
      val u = graft.functions.Portable.hash60(col("doc_id").cast("string"), 17)
        .cast("double") / lit((1L << 60).toDouble)
      docs.join(broadcast(rates), Seq("source"))
        .withColumn("u", u)
        .filter(col("u") < col("p_keep"))
        .select(col("doc_id"), col("source"),
          round(col("p_keep"), 6).as("p_keep"), col("u"))
    },
    Some(s"""
      WITH rates AS (
        SELECT source,
               sqrt(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM documents)) AS p_keep
        FROM documents GROUP BY 1),
      drawn AS (
        SELECT d.doc_id, d.source, r.p_keep,
               CAST(${hSql("CAST(doc_id AS VARCHAR)", 17)} AS DOUBLE)
                 / ${(1L << 60).toDouble} AS u
        FROM documents d JOIN rates r USING (source))
      SELECT doc_id, source, round(p_keep, 6) AS p_keep, u
      FROM drawn WHERE u < p_keep
    """))

  // ---- t22: deterministic corpus shuffle order -----------------------
  //
  // Reproducible global shuffle for training order: rank every doc by a
  // seeded hash — same sample order on every engine and every rerun,
  // unlike rand(). The rank is the t17 two-level distributed prefix sum
  // over COUNTS (bucket = top 10 hash bits, so bucket index is ordered
  // by hash prefix): within-bucket row_number partitioned by bucket,
  // plus an exclusive cumsum of bucket sizes over the ~1k bucket totals
  // — no single-partition window over the corpus.

  private val shuffleBuckets = 10 // top bits → 1024 ordered buckets

  private val t22 = Q(
    "t22_shuffle_order",
    (s, d) => {
      val h = graft.functions.Portable.hash60(col("doc_id").cast("string"), 19)
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), h.as("h"))
        .withColumn("bucket", shiftright(col("h"), 60 - shuffleBuckets))
      val wIn = Window.partitionBy(col("bucket"))
        .orderBy(col("h"), col("doc_id"))
      val inBucket = docs.withColumn("pre",
        row_number().over(wIn).cast("long") - 1)
      val wB = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = docs.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .withColumn("boff", coalesce(sum(col("n")).over(wB), lit(0L)))
        .select(col("bucket"), col("boff"))
      inBucket.join(broadcast(offsets), Seq("bucket"))
        .select(col("doc_id"), col("h"),
          (col("boff") + col("pre")).as("shuffle_pos"))
    },
    Some(s"""
      SELECT doc_id, h,
             CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
               AS shuffle_pos
      FROM (SELECT doc_id, ${hSql("CAST(doc_id AS VARCHAR)", 19)} AS h
            FROM documents)
    """))

  // ---- t24: corpus snapshot diff -------------------------------------
  //
  // "What changed between crawls": full-outer join two corpus versions
  // on doc_id and classify added / removed / changed / unchanged by
  // content fingerprint. The versions are deterministic overlays of the
  // documents table (the t11 fixture pattern): v1 drops doc_id ≡ 0 mod
  // 7, v2 drops ≡ 0 mod 5 and edits ≡ 0 mod 3. Scale shape: both sides
  // hash-partition on doc_id for the join (co-partitioned equi-join);
  // fingerprints reduce the compare to 32 bytes per doc, so the shuffle
  // never carries document bodies.

  private val t24 = Q(
    "t24_snapshot_diff",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      val v1 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"), md5(col("text")).as("fp1"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("fp2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp1").isNull, "added")
            .when(col("fp2").isNull, "removed")
            .when(col("fp1") === col("fp2"), "unchanged")
            .otherwise("changed").as("status"))
    },
    Some("""
      WITH v1 AS (
        SELECT doc_id, md5(text) AS fp1 FROM documents WHERE doc_id % 7 <> 0),
      v2 AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 3 = 0 THEN text || ' rev2' ELSE text END) AS fp2
        FROM documents WHERE doc_id % 5 <> 0)
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN fp1 IS NULL THEN 'added'
                  WHEN fp2 IS NULL THEN 'removed'
                  WHEN fp1 = fp2 THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """))

  // ---- t25: per-source quota capping ---------------------------------
  //
  // Cap every source at K docs (the "don't let one crawl dump dominate"
  // mixing guard, the hard-cap complement to t21's smooth temperature
  // rebalance). Selection within a source is by seeded-hash order, so
  // the kept subset is a uniform draw AND stable across engines/reruns.
  // One window shuffle on source; only rank ≤ K rows survive. A hot
  // source is one big window partition — at 100 TB pre-filter with an
  // approximate per-source count and a hash threshold (keep if
  // hash < K/n_src quantile) to avoid ranking the whole dump; the
  // window form here is the exact contract that path approximates.

  private val quotaK = 20

  private val t25 = Q(
    "t25_source_quota",
    (s, d) => {
      val h = graft.functions.Portable.hash60(col("doc_id").cast("string"), 23)
      val ranked = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), h.as("h"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
          .cast("int"))
      ranked.filter(col("rnk") <= quotaK)
        .select(col("doc_id"), col("source"), col("rnk"))
    },
    Some(s"""
      SELECT doc_id, source, rnk FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                 PARTITION BY source
                 ORDER BY ${hSql("CAST(doc_id AS VARCHAR)", 23)}, doc_id)
               AS INTEGER) AS rnk
        FROM documents)
      WHERE rnk <= $quotaK
    """))

  // ---- t26: changelog apply (CDC upsert/delete merge) ----------------
  //
  // Apply a change stream to a snapshot: latest version wins per key,
  // deletes drop the key — the MERGE/compaction step of any
  // incrementally-maintained corpus. The changelog is a deterministic
  // overlay: every doc has a v1 upsert; doc_id ≡ 0 mod 3 gets a v2 edit,
  // doc_id ≡ 0 mod 4 a v2 delete (id ≡ 0 mod 12 → the delete wins by
  // the op tie-break at equal version, mirroring a same-commit
  // delete-after-write). Plan: one window shuffle on doc_id keyed by
  // (version DESC, op DESC) — rank 1 is the surviving change; at 100 TB
  // this is the standard log-compaction shape (shuffle carries one row
  // per CHANGE, not per key × version history, after partial pushdown).

  /** Deterministic changelog overlay shared by t26 (compaction → latest
    * state) and q48 (SCD-2 → full validity history): a v1 upsert for
    * every doc, a v2 edit for doc_id ≡ 0 mod 3, a v2 delete for
    * doc_id ≡ 0 mod 4 (≡ 0 mod 12 → a same-version delete-after-write,
    * resolved by the 'delete' < 'upsert' op tie-break).
    */
  private def changelog(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, d))
    val base = docs.select(col("doc_id"), lit(1L).as("version"),
      lit("upsert").as("op"), col("text"))
    val edits = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), lit(2L).as("version"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"))
    val deletes = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("doc_id"), lit(2L).as("version"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
    base.unionAll(edits).unionAll(deletes)
  }

  private val changelogSql = """
        SELECT doc_id, 1 AS version, 'upsert' AS op, text FROM documents
        UNION ALL
        SELECT doc_id, 2, 'upsert', text || ' v2' FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, 2, 'delete', NULL FROM documents WHERE doc_id % 4 = 0"""

  private val t26 = Q(
    "t26_changelog_apply",
    (s, d) => {
      val log = changelog(s, d)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("version").desc, col("op").asc) // 'delete' < 'upsert'
      log.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1 && col("op") === "upsert")
        .select(col("doc_id"), col("version"), md5(col("text")).as("fp"))
    },
    Some(s"""
      WITH log AS ($changelogSql),
      r AS (
        SELECT doc_id, version, op, text,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY version DESC, op ASC) AS rnk
        FROM log)
      SELECT doc_id, CAST(version AS BIGINT) AS version, md5(text) AS fp
      FROM r WHERE rnk = 1 AND op = 'upsert'
    """))

  // ---- q48: SCD-2 dimension history from the changelog ----------------
  //
  // t26 compacts the changelog to the LATEST state; this is the other
  // standard consumer — a slowly-changing-dimension type-2 table carrying
  // every version's validity interval: valid_from = its version,
  // valid_to = the next change's version − 1 (NULL = still open),
  // is_current = no later change exists. A delete closes the previous
  // interval and contributes no row of its own; a same-version
  // delete-after-write (doc_id ≡ 0 mod 12) means that version's upsert
  // never becomes visible.
  //
  // Plan discipline: BOTH window passes partition by doc_id — the
  // same-version compaction is a lag() in (version, op) order, not a
  // row_number over (doc_id, version), so Catalyst plans ONE exchange
  // and the second window is sort-only on the same partitioning. The
  // shuffle carries one row per CHANGE (same bound as t26).

  /** The SCD-2 history frame shared by q48 (which emits it) and q58
    * (which probes it at event time).
    */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    val wc = Window.partitionBy(col("doc_id"))
      .orderBy(col("version"), col("op")) // 'delete' < 'upsert'
    val wn = Window.partitionBy(col("doc_id")).orderBy(col("version"))
    changelog(s, d)
      .withColumn("prev_v", lag(col("version"), 1).over(wc))
      .filter(col("prev_v").isNull || col("prev_v") =!= col("version"))
      .withColumn("next_v", lead(col("version"), 1).over(wn))
      .filter(col("op") === "upsert")
      .select(col("doc_id"),
        col("version").as("valid_from"),
        (col("next_v") - 1).as("valid_to"),
        when(col("next_v").isNull, 1L).otherwise(0L).as("is_current"),
        md5(col("text")).as("fp"))
  }

  /** DuckDB CTE chain ending in `hist` = the [[scd2History]] frame. */
  private val scd2HistCtes = s"""
      log AS ($changelogSql),
      c AS (
        SELECT doc_id, version, op, text,
               lag(version) OVER (PARTITION BY doc_id
                                  ORDER BY version, op) AS prev_v
        FROM log),
      k AS (
        SELECT doc_id, version, op, text,
               lead(version) OVER (PARTITION BY doc_id
                                   ORDER BY version) AS next_v
        FROM c WHERE prev_v IS NULL OR prev_v <> version),
      hist AS (
        SELECT doc_id,
               CAST(version AS BIGINT) AS valid_from,
               CAST(next_v - 1 AS BIGINT) AS valid_to,
               CAST(CASE WHEN next_v IS NULL THEN 1 ELSE 0 END AS BIGINT)
                 AS is_current,
               md5(text) AS fp
        FROM k WHERE op = 'upsert')"""

  private val q48 = Q(
    "q48_scd2_history",
    (s, d) => scd2History(s, d),
    Some(s"""
      WITH $scd2HistCtes
      SELECT doc_id, valid_from, valid_to, is_current, fp FROM hist
    """))

  // ---- q58: temporal dimension lookup (as-of over SCD-2 intervals) ----
  //
  // The most common warehouse join there is: enrich a fact row with the
  // dimension version valid AT its event time. Phrased naively it's an
  // interval join (valid_from <= v AND v <= valid_to); phrased for scale
  // it's a BACKWARD AS-OF on valid_from (intervals are disjoint per key,
  // so the latest version starting at-or-before v is the only candidate)
  // + a residual valid_to filter that turns deleted-at-v keys into
  // nulls. One shuffle + one window via [[graft.etl.AsOf]] — against the
  // oracle's textbook BETWEEN left join. Probes are every doc at
  // versions 1 and 2, so the fixture exercises live, edited, deleted,
  // and delete-after-write keys at both times.

  private val q58 = Q(
    "q58_temporal_dim_join",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d)).select(col("doc_id"))
      val probes = docs.select(col("doc_id"), lit(1L).as("v"))
        .unionAll(docs.select(col("doc_id"), lit(2L).as("v")))
      val h = scd2History(s, d)
        .select(col("doc_id"), col("valid_from").as("v"),
          col("valid_from").as("vf"), col("valid_to"), col("fp"))
      val valid = col("_match").isNotNull &&
        (col("_match.valid_to").isNull || col("_match.valid_to") >= col("v"))
      graft.etl.AsOf.joinBackward(probes, h,
          keyCols = Seq("doc_id"), tsCol = "v",
          payloadCols = Seq("vf", "valid_to", "fp"),
          tieBreak = col("vf"))
        .select(col("doc_id"), col("v").as("probe_v"),
          when(valid, col("_match.vf")).as("valid_from"),
          when(valid, col("_match.fp")).as("fp"))
    },
    Some(s"""
      WITH $scd2HistCtes,
      probes AS (SELECT doc_id, CAST(1 AS BIGINT) AS v FROM documents
                 UNION ALL
                 SELECT doc_id, CAST(2 AS BIGINT) AS v FROM documents)
      SELECT p.doc_id, p.v AS probe_v, h.valid_from, h.fp
      FROM probes p LEFT JOIN hist h
        ON h.doc_id = p.doc_id AND h.valid_from <= p.v
        AND (h.valid_to IS NULL OR h.valid_to >= p.v)
    """))

  // ---- t41: link-graph PageRank (source-quality propagation) ----------
  //
  // The link-analysis signal corpus curation borrows from web ranking:
  // centrality over a link graph ranks sources before sampling (the
  // public Common-Crawl-style domain-ranking technique). The graph here
  // is the deterministic bipartite trade graph — distinct
  // (customer, supplier) pairs from orders ⋈ lineitem, bidirected so
  // every node has out-edges (no dangling-mass correction needed) —
  // and the operator is [[graft.etl.Graph.pageRankMicro]]: 3 fixed
  // iterations, damping 0.85, ALL integer micro-unit math, so the
  // result is bit-exact against DuckDB's unrolled-CTE mirror.
  //
  // Scale: two keyed shuffles per iteration (join on src, agg on dst)
  // + one eager checkpoint per round (lineage stays flat); the edge
  // list is degree-annotated and pinned once. 100 suppliers serve
  // ~1500 customers, so supplier ranks concentrate the mass — the
  // spec pins mass conservation and the hub asymmetry.

  private val suppOffset = 1000000000L
  private val prIters = 3

  private def prIterSql(k: Int): String = s"""
      r$k AS (
        SELECT n.id,
               CAST(150000 + coalesce(sum(p.r // d.odeg), 0) * 85 // 100
                    AS BIGINT) AS r
        FROM nodes n
        JOIN edges e ON e.dst = n.id
        JOIN r${k - 1} p ON p.id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY n.id)"""

  /** Distinct (customer, supplier) trade pairs — the edge base BOTH
    * PageRank entries derive their graphs from, materialized once
    * (`Artifacts.shared`): the orders⋈lineitem distinct is the
    * expensive part of graph construction and a production pipeline
    * checkpoints its edge list, not each consumer's rebuild of it.
    */
  private def tradePairs(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "tradepairs") {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    }

  private val t41 = Q(
    "t41_graph_pagerank",
    (s, d) => {
      val eg0 = tradePairs(s, d)
      val edges = eg0
        .select(col("c").as("src"), (col("sp") + suppOffset).as("dst"))
        .unionAll(eg0
          .select((col("sp") + suppOffset).as("src"), col("c").as("dst")))
      graft.etl.Graph.pageRankMicro(edges, prIters,
          policy = graft.etl.CheckpointPolicy.fromEnv(s))
        .select(col("id").as("node_id"),
          when(col("id") >= suppOffset, lit("s")).otherwise(lit("c"))
            .as("node_type"),
          col("rank_micro"))
    },
    Some(s"""
      WITH eg0 AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      edges AS (
        SELECT c AS src, sp + $suppOffset AS dst FROM eg0
        UNION ALL SELECT sp + $suppOffset, c FROM eg0),
      deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${(1 to prIters).map(prIterSql).mkString(",")}
      SELECT id AS node_id,
             CASE WHEN id >= $suppOffset THEN 's' ELSE 'c' END AS node_type,
             r AS rank_micro
      FROM r$prIters
    """))

  // ---- t71: PageRank with DANGLING sinks (directed link graph) --------
  //
  // Real link graphs have sinks — pages with no out-links — which t41's
  // bidirected construction avoids by design. t71 keeps the trade graph
  // DIRECTED (customer → supplier only): every supplier is then a
  // planted sink holding ~15× a customer's in-mass, the worst case for
  // rank leakage. [[graft.etl.Graph.pageRankDanglingMicro]] collects the
  // sink mass each round with one scalar aggregation and redistributes
  // an equal integer share to every node before damping — same
  // micro-unit math, still bit-exact against the unrolled-CTE oracle.
  //
  // Scale: identical per-round shape to t41 (one node-sized shuffle)
  // plus a broadcast 1-row scalar — the dangling correction never
  // shuffles the rank table.

  private def prDanglIterSql(k: Int): String = s"""
      dm$k AS (
        SELECT coalesce(sum(p.r), 0) AS dm
        FROM r${k - 1} p JOIN dangl USING (id)),
      sh$k AS (SELECT dm // nn AS sh FROM dm$k, nc),
      r$k AS (
        SELECT n.id,
               CAST(150000 + (coalesce(c.csum, 0) + s.sh) * 85 // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN (
          SELECT e.dst AS id, sum(p.r // d.odeg) AS csum
          FROM edges e
          JOIN r${k - 1} p ON p.id = e.src
          JOIN deg d ON d.src = e.src
          GROUP BY e.dst) c USING (id),
        sh$k s)"""

  private val t71 = Q(
    "t71_pagerank_dangling",
    (s, d) => {
      // DIRECTED: customers link to suppliers; suppliers are sinks.
      // Edge base read from the shared tradePairs checkpoint (built
      // once for t41 + t71).
      val edges = tradePairs(s, d)
        .select(col("c").as("src"), (col("sp") + suppOffset).as("dst"))
      graft.etl.Graph.pageRankDanglingMicro(edges, prIters,
          policy = graft.etl.CheckpointPolicy.fromEnv(s))
        .select(col("id").as("node_id"),
          when(col("id") >= suppOffset, lit("s")).otherwise(lit("c"))
            .as("node_type"),
          col("rank_micro"))
    },
    Some(s"""
      WITH eg0 AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      edges AS (SELECT c AS src, sp + $suppOffset AS dst FROM eg0),
      deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
      nodes AS (SELECT DISTINCT id FROM (
        SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
      nc AS (SELECT count(*) AS nn FROM nodes),
      dangl AS (SELECT id FROM nodes
                WHERE id NOT IN (SELECT src FROM edges)),
      r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${(1 to prIters).map(prDanglIterSql).mkString(",")}
      SELECT id AS node_id,
             CASE WHEN id >= $suppOffset THEN 's' ELSE 'c' END AS node_type,
             r AS rank_micro
      FROM r$prIters
    """))

  // ---- t31: per-source corpus datacard --------------------------------
  //
  // The "data card" table every corpus release ships: per source, the
  // volume (docs, whitespace tokens), quality mass (t02 score summed in
  // exact integer micro-units — round(q·1e6) of the already-6dp-rounded
  // score is engine-exact, and integer sums are order-independent),
  // exact-dup pressure (docs sharing a full-text md5 within the source),
  // and language spread. One tokenization pass, two hash aggs (doc-level
  // metrics, then source rollup) + one (source, md5) agg for dups — all
  // map-side combined; nothing leaves the executors but per-source rows.

  /** Full-recompute datacard SQL — t31's oracle, and t42's too: the
    * incremental path must hash-match a from-scratch scan or the merge
    * algebra lost something.
    */
  private lazy val datacardSql = s"""
      WITH t AS (SELECT doc_id, source, lang, text, $toksSql AS toks
                 FROM documents),
      m AS (SELECT doc_id, source, lang, ${OracleSql.qualityColsSql},
                   md5(text) AS fp, len(toks) AS ntok_i
            FROM t),
      pd AS (SELECT doc_id, source, lang, ntok_i, fp,
                    CAST(round(${OracleSql.qualityExprSql} * 1e6) AS BIGINT)
                      AS qmicro
             FROM m),
      dups AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_dup_docs
               FROM (SELECT source, fp, count(*) AS c FROM pd
                     GROUP BY 1, 2 HAVING count(*) > 1)
               GROUP BY 1)
      SELECT source, count(*) AS n_docs,
             CAST(sum(ntok_i) AS BIGINT) AS n_tokens,
             CAST(sum(qmicro) AS BIGINT) AS q_micro_sum,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(coalesce(any_value(n_dup_docs), 0) AS BIGINT) AS n_dup_docs
      FROM pd LEFT JOIN dups USING (source)
      GROUP BY source
    """

  /** Per-doc datacard attributes — shared by t31 (full scan) and t42
    * (incremental maintenance): the two must measure identically or the
    * merge-equals-recompute contract is vacuous.
    */
  private def datacardDocs(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d))
      .select(col("source"), col("lang"), col("doc_id"),
        size(TA.tokens(col("text"))).as("ntok"),
        round(TA.qualityScore(col("text")) * 1e6).cast("long").as("qmicro"),
        md5(col("text")).as("fp"))

  private val t31 = Q(
    "t31_corpus_datacard",
    (s, d) => {
      val docs = datacardDocs(s, d)
      val dupDocs = docs.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .groupBy(col("source")).agg(sum(col("c")).as("n_dup_docs"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(col("qmicro")).as("q_micro_sum"),
          countDistinct(col("lang")).as("n_langs"))
        .join(dupDocs, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("q_micro_sum"), col("n_langs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
    },
    Some(datacardSql))

  // ---- t42: incremental datacard maintenance --------------------------
  //
  // The materialized-view-maintenance shape: a 100 TB corpus datacard
  // cannot be recomputed from raw text per ingest, so the release
  // process keeps mergeable aggregation STATE and folds each day's
  // batch in. countDistinct(lang) and dup detection are NOT additive at
  // datacard grain — the standard fix is state one grain FINER, where
  // every measure is a plain sum:
  //
  //   lang_state(source, lang,  n_docs, n_tokens, q_micro_sum)
  //   fp_state  (source, fp,    c)
  //
  // The artifact is built by two APPEND ingests (t34's lifecycle verbs
  // — additive measures make append ≡ re-aggregation), the query reads
  // it, aggregates ONLY the new batch (doc_id ≡ 0 mod 10) from raw
  // text, merges by union + re-sum, and rolls up. The oracle is the
  // FULL-recompute SQL (t31's, verbatim): hash equality proves the
  // merge algebra loses nothing. Cost per ingest: O(batch) raw work +
  // a state-sized re-sum — the corpus text is never re-read.

  private val t42Lock = new Object

  def t42StatePath(s: SparkSession, d: String): String = {
    val path = graft.WorkDir.path("datacard", d)
    val marker = new java.io.File(path + "_READY")
    t42Lock.synchronized {
      if (!marker.exists()) {
        graft.WorkDir.delete(path)
        val corpus = datacardDocs(s, d)
          .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        def writeState(ingest: DataFrame, mode: String): Unit = {
          ingest.groupBy(col("source"), col("lang"))
            .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
              sum(col("qmicro")).as("q_micro_sum"))
            .write.mode(mode).parquet(path + "/lang")
          ingest.groupBy(col("source"), col("fp"))
            .agg(count(lit(1)).as("c"))
            .write.mode(mode).parquet(path + "/fp")
        }
        // build (ingest 1) then append (ingest 2): additive state
        writeState(corpus.filter(pmod(col("doc_id"), lit(2)) === 1), "overwrite")
        writeState(corpus.filter(pmod(col("doc_id"), lit(2)) === 0), "append")
        marker.createNewFile()
      }
    }
    path
  }

  private val t42 = Q(
    "t42_incremental_datacard",
    (s, d) => {
      val path = t42StatePath(s, d)
      val batch = datacardDocs(s, d)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
      val langAll = s.read.parquet(path + "/lang")
        .unionByName(batch.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
            sum(col("qmicro")).as("q_micro_sum")))
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("q_micro_sum")).as("q_micro_sum"))
      val fpAll = s.read.parquet(path + "/fp")
        .unionByName(batch.groupBy(col("source"), col("fp"))
          .agg(count(lit(1)).as("c")))
        .groupBy(col("source"), col("fp")).agg(sum(col("c")).as("c"))
      val dups = fpAll.filter(col("c") > 1)
        .groupBy(col("source")).agg(sum(col("c")).as("n_dup_docs"))
      langAll.groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("q_micro_sum")).as("q_micro_sum"),
          countDistinct(col("lang")).as("n_langs"))
        .join(dups, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("q_micro_sum"), col("n_langs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
    },
    Some(datacardSql))

  // ---- t36: BM25 retrieval (top-k docs per query) ----------------------
  //
  // The retrieval primitive curation pipelines use for targeted audits
  // (decontamination lookups, "find docs like this benchmark item",
  // nearest-source attribution): Okapi BM25 over the corpus, a fixed
  // query set, top-5 docs per query.
  //
  // Numeric determinism (the t27/t28 discipline): the only libm call
  // (ln in idf) is rounded ONCE to integer micro-units; the tf
  // normalization is a fixed chain of IEEE +,*,/ (correctly rounded,
  // identical per row in both engines); each term's score is rounded
  // ONCE to micro-units and docs sum INTEGERS — no float accumulation
  // order anywhere.
  //
  // Scale shape: the query-term table is tiny and broadcast, so the
  // corpus explode is pre-filtered to query terms at the scan side
  // (isin pushes down); per-(doc, term) tf and per-term df are hash
  // aggs with map-side partials; the score join touches only matching
  // postings; top-k is a window per query over candidate docs only. At
  // 100 TB with a large query load you'd persist the (term, doc, tf)
  // postings table once (the t34 index discipline) and probe it.

  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25K = 5
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join",
    2L -> "stream", 2L -> "window", 2L -> "agg",
    3L -> "vector", 3L -> "scan")

  /** BM25 top-k per query — t36's operator body, shared with the t58
    * RRF fusion (one definition, two consumers).
    */
  private def bm25Ranked(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val qdf = bm25Queries.toDF("qid", "term")
      val qTerms = bm25Queries.map(_._2).distinct
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("len"))
        .filter(col("len") > 0)
      val stats = docs.agg(count(lit(1)).as("n"), avg(col("len")).as("avgdl"))
      val postings = docs
        .select(col("doc_id"), col("len"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("len"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = postings
        .join(broadcast(qdf), Seq("term"))
        .join(broadcast(dfreq), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("idf_micro",
          round(log(lit(1.0)
            + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) * 1e6)
            .cast("long"))
        .withColumn("ts_micro",
          round(col("idf_micro") * (col("tf") * lit(bm25K1 + 1.0))
            / (col("tf") + lit(bm25K1)
              * (lit(1.0 - bm25B) + lit(bm25B) * col("len") / col("avgdl"))))
            .cast("long"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("ts_micro")).as("score_micro"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("score_micro"),
          col("doc_id"), bm25K)
        .select(col("qid"), col("doc_id"), col("rnk"), col("score_micro"))
  }

  private val t36 = Q(
    "t36_bm25_search",
    (s, d) => bm25Ranked(s, d),
    Some(s"WITH $bm25Ctes SELECT qid, doc_id, rnk, score_micro FROM r WHERE rnk <= $bm25K"))

  /** The BM25 CTE chain (through ranked `r`), shared by t36 and t58. */
  private lazy val bm25Ctes: String = {
      val qvals = bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      s"""
      qs(qid, term) AS (VALUES $qvals),
      docs AS (
        SELECT doc_id, $toksSql AS toks FROM documents),
      dl AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS len
        FROM docs WHERE len(toks) > 0),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(len) AS avgdl FROM dl),
      postings AS (
        SELECT doc_id, len, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, len, unnest(toks) AS term FROM dl)
        WHERE term IN (SELECT DISTINCT term FROM qs)
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM postings GROUP BY 1),
      scored AS (
        SELECT q.qid, p.doc_id,
               CAST(sum(CAST(round(
                 CAST(round(ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5)) * 1e6)
                      AS BIGINT)
                 * (p.tf * ${bm25K1 + 1.0})
                 / (p.tf + $bm25K1
                    * (${1.0 - bm25B} + $bm25B * p.len / st.avgdl)))
                 AS BIGINT)) AS BIGINT) AS score_micro
        FROM postings p
          JOIN qs q ON q.term = p.term
          JOIN dfreq f ON f.term = p.term
          CROSS JOIN st
        GROUP BY 1, 2),
      r AS (SELECT qid, doc_id, score_micro,
                   CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY score_micro DESC, doc_id ASC) AS INTEGER) AS rnk
            FROM scored)"""
  }

  // ---- t44: snapshot distribution drift -------------------------------
  //
  // The distribution-level complement to t24's row-level diff: "did this
  // crawl CHANGE the corpus shape, not just its rows?" Compares the two
  // snapshot overlays' per-source document-length distributions as an L1
  // distance over fixed-width length buckets — the monitoring gate that
  // catches a silently broken extractor (suddenly-truncated pages shift
  // the histogram long before anyone reads a sample). Shares t24's
  // overlay rule exactly (v1 drops ≡0 mod 7; v2 drops ≡0 mod 5 and
  // edits ≡0 mod 3), so the two entries describe the same pair of
  // snapshots at two granularities.
  //
  // All arithmetic is integer: bucket = length div 200 capped at 19,
  // share = count·1000 div total (floor per-mille), drift = Σ|Δshare|.
  // Scale shape: ONE corpus scan feeds both versions (each doc emits its
  // memberships), one (ver, source, bucket) hash agg with map-side
  // partials; everything after operates on sources × 20 bucket rows.

  private val driftBucketW = 200
  private val driftBuckets = 20

  /** t44's core, exposed for DriftSpec's identity property (drift of a
    * snapshot against itself is exactly 0): per-source L1 distance of
    * the two inputs' length-bucket share distributions. Inputs need
    * (source, text).
    */
  def lengthDriftForAudit(v1In: DataFrame, v2In: DataFrame): DataFrame = {
    def bucketed(ver: Int, df: DataFrame): DataFrame = df
      .select(lit(ver).as("ver"), col("source"),
        least(expr(s"length(text) div $driftBucketW"),
          lit((driftBuckets - 1).toLong)).as("bucket"))
    val counts = bucketed(1, v1In).unionAll(bucketed(2, v2In))
      .groupBy(col("ver"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy(col("ver"), col("source"))
    val shares = counts
      .withColumn("total", sum(col("n")).over(wSrc))
      .select(col("ver"), col("source"), col("bucket"),
        col("n"), expr("n * 1000 div total").as("share_pm"))
    val s1 = shares.filter(col("ver") === 1)
      .select(col("source"), col("bucket"),
        col("n").as("n1"), col("share_pm").as("p1"))
    val s2 = shares.filter(col("ver") === 2)
      .select(col("source"), col("bucket"),
        col("n").as("n2"), col("share_pm").as("p2"))
    s1.join(s2, Seq("source", "bucket"), "full_outer")
      .groupBy(col("source"))
      .agg(sum(coalesce(col("n1"), lit(0L))).as("n_v1"),
        sum(coalesce(col("n2"), lit(0L))).as("n_v2"),
        sum(abs(coalesce(col("p1"), lit(0L))
          - coalesce(col("p2"), lit(0L)))).as("l1_drift_pm"))
  }

  private val t44 = Q(
    "t44_snapshot_drift",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("text"))
      val v1 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val v2 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      lengthDriftForAudit(v1, v2)
    },
    Some(s"""
      WITH v1 AS (
        SELECT 1 AS ver, source,
               least(length(text) // $driftBucketW, ${driftBuckets - 1}) AS bucket
        FROM documents WHERE doc_id % 7 <> 0),
      v2 AS (
        SELECT 2 AS ver, source,
               least(length(CASE WHEN doc_id % 3 = 0 THEN text || ' rev2'
                                 ELSE text END) // $driftBucketW,
                     ${driftBuckets - 1}) AS bucket
        FROM documents WHERE doc_id % 5 <> 0),
      counts AS (
        SELECT ver, source, bucket, count(*) AS n
        FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        GROUP BY 1, 2, 3),
      shares AS (
        SELECT ver, source, bucket, n,
               n * 1000 // sum(n) OVER (PARTITION BY ver, source) AS share_pm
        FROM counts),
      j AS (
        SELECT coalesce(s1.source, s2.source) AS source,
               coalesce(s1.n, 0) AS n1, coalesce(s2.n, 0) AS n2,
               coalesce(s1.share_pm, 0) AS p1, coalesce(s2.share_pm, 0) AS p2
        FROM (SELECT * FROM shares WHERE ver = 1) s1
        FULL OUTER JOIN (SELECT * FROM shares WHERE ver = 2) s2
          ON s1.source = s2.source AND s1.bucket = s2.bucket)
      SELECT source, CAST(sum(n1) AS BIGINT) AS n_v1,
             CAST(sum(n2) AS BIGINT) AS n_v2,
             CAST(sum(abs(p1 - p2)) AS BIGINT) AS l1_drift_pm
      FROM j GROUP BY 1
    """))

  // ---- t45: frequency vocabulary + per-doc OOV rate -------------------
  //
  // The vocabulary-construction step the subword tokenizer (t01) sits
  // on: build the top-V token vocabulary by global frequency (V fixed,
  // ties broken by token text so the set is total-ordered and
  // engine-exact) and score every doc's out-of-vocabulary rate — the
  // coverage metric that decides V and flags domain-shifted docs before
  // token budgets are planned on a vocab that can't cover them.
  //
  // Scale shape: token counts are one explode + one map-side-combined
  // hash agg (the t19 discipline); the top-V selection is
  // `orderBy.limit(V)` → TakeOrderedAndProject (per-partition partial
  // top-k, NEVER a global sort of the vocabulary); the vocab is then
  // broadcast-able BY CONSTRUCTION (exactly V rows — unlike t28's
  // unbounded vocab join, which correctly shuffles). Per-doc scoring is
  // one left join against the broadcast plus one doc-keyed agg.

  private val vocabV = 256

  private val t45 = Q(
    "t45_vocab_oov",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      val tok = docs.select(col("doc_id"), explode(col("toks")).as("tk"))
      val vocab = tok.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tk").asc).limit(vocabV)
        .select(col("tk"), lit(1).as("in_v"))
      val per = tok.join(broadcast(vocab), Seq("tk"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(coalesce(col("n_toks"), lit(0L)) === 0, lit(0L))
            .otherwise(expr("n_oov * 1000 div n_toks")).as("oov_pm"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
      cnt AS (SELECT tk, count(*) AS n FROM tok GROUP BY 1),
      v AS (SELECT tk FROM (
              SELECT tk, row_number() OVER (ORDER BY n DESC, tk ASC) AS r
              FROM cnt) WHERE r <= $vocabV),
      per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
               CAST(count(*) FILTER (WHERE v.tk IS NULL) AS BIGINT) AS n_oov
        FROM tok LEFT JOIN v ON tok.tk = v.tk GROUP BY 1)
      SELECT t.doc_id,
             coalesce(n_toks, 0) AS n_toks,
             coalesce(n_oov, 0) AS n_oov,
             CASE WHEN coalesce(n_toks, 0) = 0 THEN 0
                  ELSE n_oov * 1000 // n_toks END AS oov_pm
      FROM t LEFT JOIN per ON per.doc_id = t.doc_id
    """))

  // ---- t50: overlapping passage chunking (RAG/embedding prep) ---------
  //
  // Split every document into fixed-size token windows with overlap —
  // the passage extraction step before embedding a corpus for
  // retrieval. stride < chunkSize makes consecutive chunks share
  // (chunkSize − stride) tokens, so a fact straddling a boundary still
  // lands whole in some chunk. The explode is PARTITION-LOCAL (fan-out
  // ≈ ntok/stride per doc, no shuffle anywhere — the scale shape of
  // m02's frame sampler); chunk identity is (doc_id, chunk_idx) and the
  // content fingerprint makes chunk-level dedup/provenance downstream a
  // plain equi-join.

  private val chunkSize = 32
  private val chunkStride = 24

  private val t50 = Q(
    "t50_passage_chunks",
    (s, d) => {
      val t = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
      t.select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("n") - 1, lit(chunkStride)))
            .as("start_tok"))
        .withColumn("sub",
          slice(col("toks"), col("start_tok") + 1, lit(chunkSize)))
        .select(col("doc_id"),
          (col("start_tok") / chunkStride).cast("long").as("chunk_idx"),
          col("start_tok").cast("long").as("start_tok"),
          size(col("sub")).cast("long").as("n_toks"),
          md5(concat_ws(" ", col("sub"))).as("chunk_fp"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks,
                   unnest(range(0, n, $chunkStride)) AS start_tok
            FROM s),
      x AS (SELECT doc_id, start_tok,
                   list_slice(toks, start_tok + 1, start_tok + $chunkSize)
                     AS sub
            FROM c)
      SELECT doc_id,
             CAST(start_tok // $chunkStride AS BIGINT) AS chunk_idx,
             CAST(start_tok AS BIGINT) AS start_tok,
             CAST(len(sub) AS BIGINT) AS n_toks,
             md5(array_to_string(sub, ' ')) AS chunk_fp
      FROM x
    """))

  // ---- t51: token-budget water-filling across sources -----------------
  //
  // Source mixing under a global token budget: every source gets an
  // equal share, a source with less than its share contributes what it
  // has, and the leftover redistributes equally among the uncapped —
  // the water-filling allocation behind "balanced" mixture specs
  // (companion to t31's fixed quotas and t48's quality-greedy fill).
  // Three rounds unrolled (each redistribution strictly reduces the
  // uncapped set, and with this corpus's ~20 sources the fixpoint lands
  // in ≤ 3); ALL integer division, so both engines land on identical
  // allocations with no tolerance. Scale shape: the per-source
  // availability agg is the only corpus-sized shuffle — every
  // water-fill round operates on the sources × 1 report frame
  // (broadcast scalar joins), so rounds cost nothing at any corpus
  // size.

  private val fillBudget = 20000L

  private val t51 = Q(
    "t51_quota_waterfill",
    (s, d) => {
      // persist: every water-fill round references its input twice
      // (scalar agg + join), so without this the corpus tokenization
      // re-runs ~2^rounds times
      val avail = Tables.spread(Tables.documents(s, d))
        .select(col("source"), TA.tokens(col("text")).as("_toks"))
        .groupBy(col("source"))
        .agg(sum(size(col("_toks")).cast("long")).as("avail"))
        .persist()
      def round2(cur: DataFrame): DataFrame = {
        // cur: (source, avail, fair) → next fair after one redistribution
        val tot = cur.agg(
          sum(least(col("avail"), col("fair"))).as("_spent"),
          sum(when(col("avail") > col("fair"), 1L).otherwise(0L)).as("_u"))
        cur.crossJoin(broadcast(tot))
          .withColumn("fair",
            when(col("_u") > 0,
              // div, not '/': long / long is DOUBLE division in Spark
              col("fair") + expr(s"($fillBudget - _spent) div _u"))
              .otherwise(col("fair")))
          .drop("_spent", "_u")
      }
      val n = avail.agg(count(lit(1)).as("_n"))
      val r0 = avail.crossJoin(broadcast(n))
        .withColumn("fair", expr(s"$fillBudget div _n"))
        .drop("_n")
      val fixed = round2(round2(r0))
      fixed.select(col("source"), col("avail"),
        least(col("avail"), col("fair")).as("alloc"),
        (col("avail") <= col("fair")).as("capped"))
    },
    Some(s"""
      WITH av AS (
        SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS avail
        FROM documents GROUP BY 1),
      r0 AS (SELECT source, avail,
                    $fillBudget // (SELECT count(*) FROM av) AS fair
             FROM av),
      a0 AS (SELECT CAST(sum(least(avail, fair)) AS BIGINT) AS spent,
                    CAST(sum(CASE WHEN avail > fair THEN 1 ELSE 0 END)
                         AS BIGINT) AS u
             FROM r0),
      r1 AS (SELECT source, avail,
                    CASE WHEN a0.u > 0
                         THEN fair + ($fillBudget - a0.spent) // a0.u
                         ELSE fair END AS fair
             FROM r0, a0),
      a1 AS (SELECT CAST(sum(least(avail, fair)) AS BIGINT) AS spent,
                    CAST(sum(CASE WHEN avail > fair THEN 1 ELSE 0 END)
                         AS BIGINT) AS u
             FROM r1),
      r2 AS (SELECT source, avail,
                    CASE WHEN a1.u > 0
                         THEN fair + ($fillBudget - a1.spent) // a1.u
                         ELSE fair END AS fair
             FROM r1, a1)
      SELECT source, avail,
             CAST(least(avail, fair) AS BIGINT) AS alloc,
             (avail <= fair) AS capped
      FROM r2
    """))

  // ---- t58: hybrid retrieval via reciprocal-rank fusion ---------------
  //
  // Production retrieval rarely ships one ranker: BM25 (t36) and a
  // query-likelihood language model with Dirichlet smoothing rank by
  // different evidence, and reciprocal-rank fusion (RRF, k=60) merges
  // their top-k lists with no score calibration at all — the fusion
  // reads only RANKS, so it composes rankers whose scores live on
  // incomparable scales (the reason RRF is the default hybrid in real
  // engines). Contributions are integer micro-units (1e6 div (60+rnk)),
  // so fusion and tie-breaks are bit-exact.
  //
  // The QL ranker keeps the t36 numeric discipline: each libm ln is
  // rounded ONCE to micro-units, docs sum integers. Missing-term
  // smoothing folds into a rank-safe form: dropping the per-query
  // constant Σ_t ln(μ p_c(t)) leaves score = Σ_present ln(1 +
  // tf·C/(μ·cf)) − |q|·ln(len+μ), computable from postings + doc
  // length only — no corpus×queries cross join for absent terms.
  //
  // Scale shape: both rankers share the same broadcast-query-pruned
  // postings pattern; fusion touches 2×|Q|×k rank rows — nothing.

  private val dirichletMu = 2000.0

  /** Dirichlet query-likelihood top-k per query (qid, doc_id, rnk). */
  private def qlRanked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qdf = bm25Queries.toDF("qid", "term")
    val qTerms = bm25Queries.map(_._2).distinct
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("len"))
      .filter(col("len") > 0)
    val ctotal = docs.agg(sum(col("len")).as("ctot"))
    val exploded = docs
      .select(col("doc_id"), col("len"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
    val cf = exploded.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val postings = exploded
      .groupBy(col("doc_id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nqdf = qdf.groupBy(col("qid")).agg(count(lit(1)).as("nq"))
    val present = postings
      .join(broadcast(qdf), Seq("term"))
      .join(broadcast(cf), Seq("term"))
      .crossJoin(broadcast(ctotal))
      .withColumn("part_micro",
        round(log(lit(1.0) + (col("tf") * col("ctot")).cast("double")
          / (lit(dirichletMu) * col("cf"))) * 1e6).cast("long"))
      .groupBy(col("qid"), col("doc_id"), col("len"))
      .agg(sum(col("part_micro")).as("match_micro"))
    val scored = present.join(broadcast(nqdf), Seq("qid"))
      .withColumn("score_micro",
        col("match_micro") - col("nq")
          * round(log(col("len") + lit(dirichletMu)) * 1e6).cast("long"))
    graft.etl.TopK.topK(scored, Seq(col("qid")), col("score_micro"),
      col("doc_id"), bm25K)
  }

  private val t58 = Q(
    "t58_rrf_hybrid",
    (s, d) => {
      val a = bm25Ranked(s, d).select(col("qid"), col("doc_id"),
        expr("CAST(1000000 div (60 + rnk) AS BIGINT)").as("c"))
      val b = qlRanked(s, d).select(col("qid"), col("doc_id"),
        expr("CAST(1000000 div (60 + rnk) AS BIGINT)").as("c"))
      val fused = a.unionAll(b)
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("c")).as("rrf_micro"))
      graft.etl.TopK.topK(fused, Seq(col("qid")), col("rrf_micro"),
          col("doc_id"), bm25K)
        .select(col("qid"), col("doc_id"), col("rnk"), col("rrf_micro"))
    },
    Some(s"""
      WITH $bm25Ctes,
      ql_ct AS (SELECT CAST(sum(len) AS BIGINT) AS ctot FROM dl),
      ql_cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf
                FROM (SELECT unnest(toks) AS term FROM dl)
                WHERE term IN (SELECT DISTINCT term FROM qs)
                GROUP BY 1),
      ql_present AS (
        SELECT q.qid, p.doc_id, p.len,
               CAST(sum(CAST(round(ln(1.0
                 + CAST(p.tf * ct.ctot AS DOUBLE) / ($dirichletMu * f.cf))
                 * 1e6) AS BIGINT)) AS BIGINT) AS match_micro
        FROM postings p
          JOIN qs q ON q.term = p.term
          JOIN ql_cf f ON f.term = p.term
          CROSS JOIN ql_ct ct
        GROUP BY 1, 2, 3),
      ql_nq AS (SELECT qid, CAST(count(*) AS BIGINT) AS nq FROM qs GROUP BY 1),
      ql_scored AS (
        SELECT pr.qid, pr.doc_id,
               pr.match_micro - n.nq
                 * CAST(round(ln(pr.len + $dirichletMu) * 1e6) AS BIGINT)
                 AS score_micro
        FROM ql_present pr JOIN ql_nq n ON n.qid = pr.qid),
      ql_r AS (SELECT qid, doc_id,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY score_micro DESC, doc_id ASC) AS rnk
               FROM ql_scored),
      contrib AS (
        SELECT qid, doc_id, CAST(1000000 // (60 + rnk) AS BIGINT) AS c
        FROM r WHERE rnk <= $bm25K
        UNION ALL
        SELECT qid, doc_id, CAST(1000000 // (60 + rnk) AS BIGINT) AS c
        FROM ql_r WHERE rnk <= $bm25K),
      fused AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
                FROM contrib GROUP BY 1, 2),
      fr AS (SELECT qid, doc_id, rrf_micro,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY rrf_micro DESC, doc_id ASC) AS rnk
             FROM fused)
      SELECT qid, doc_id, rnk, rrf_micro FROM fr WHERE rnk <= $bm25K
    """))

  // ---- t62: k-anonymity audit over quasi-identifiers -------------------
  //
  // The privacy gate a dataset release runs before publication: group
  // records by their quasi-identifier tuple (attributes that jointly
  // re-identify: here nation × market segment × account-balance band)
  // and flag every equivalence class smaller than k — those rows are
  // re-identifiable and must be suppressed or the QI generalized
  // (coarser bands, dropped attributes) until the audit passes. The
  // audit is ONE hash agg with map-side partials (the class table is
  // tiny next to the data); the iterate-until-k loop re-runs it per
  // generalization rung. Banding uses integer floor division — exact in
  // both engines, negative balances land in band -1 by the same floor
  // rule.

  private val anonK = 5

  private val t62 = Q(
    "t62_k_anonymity",
    (s, d) => Tables.spread(Tables.customer(s, d))
      .select(col("c_nationkey").cast("int").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < anonK),
    Some(s"""
      SELECT CAST(c_nationkey AS INTEGER) AS nation,
             c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS n
      FROM customer
      GROUP BY 1, 2, 3
      HAVING count(*) < $anonK
    """))

  def all: Seq[Q] =
    Seq(t17, t18, t19, t20, t21, t22, t24, t25, t26, t31, t36, t41, t42,
      t44, t45, t50, t51, t58, t62, t71, q48, q58)
}
