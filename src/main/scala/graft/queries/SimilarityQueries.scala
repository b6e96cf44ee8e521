package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.functions.Portable

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH variant as the scale path (bucketed equi-join
  * instead of an all-pairs cross join).
  *
  * All cosine math is the sequential double fold from
  * [[graft.functions.Portable]] — bit-exact vs DuckDB's
  * `list_dot_product`, so ranking and thresholding agree across engines
  * with no tolerance games.
  *
  * Scale design: the query side of e01 is a tiny broadcast; e02 replaces
  * the cross join with an equi-join on an 8-bit hyperplane-sign bucket
  * (hyperplanes are deterministic ±1 literals compiled into the plan — at
  * 100 TB they'd be a broadcast variable, same plan shape). Buckets from
  * random hyperplanes distribute ~uniformly, so no shuffle skew.
  */
object SimilarityQueries {

  private val dim = 64
  private val numPlanes = 8
  private val k = 5

  /** Legacy ±1 hyperplane #p (raw-LCG bit over plane/coord index). The
    * same literals are embedded in the Spark plan and the oracle SQL.
    *
    * KNOWN-WEAK FAMILY, kept verbatim because plane indices 0..7 are
    * baked into the e02 result hash: taking a single bit of a raw LCG
    * at sequential inputs yields CORRELATED (sometimes identical)
    * planes — measured on this corpus, the 8-plane bucket uses only
    * ~93 of 256 codes. Fine for e02's top-k probe (a weak bucket just
    * widens candidates); fatal for pair enumeration, which is why the
    * near-dup family (e29/e30) uses [[planeVecMix]] banding instead —
    * the round-7 geometry audit measured the legacy family's candidate
    * volume at ~7x the uniform expectation before retiring it.
    */
  private def planeVec(p: Int): Seq[Double] =
    (0 until dim).map { i =>
      val x = (p * dim + i) * 6364136223846793005L + 1442695040888963407L
      if (((x >>> 33) & 1L) == 0L) 1.0 else -1.0
    }

  /** Avalanche-mixed ±1 hyperplane family (splitmix64 finalizer): bit
    * decisions are decorrelated across planes/coords, so r planes give
    * ~2^r effective buckets (measured: 16-plane band → 491 distinct
    * codes on 500 vectors vs the legacy family's 200). Banded
    * geometries (e29/e30/e33) and any new plane-count choice use THIS
    * family.
    */
  private def planeVecMix(p: Int): Seq[Double] =
    (0 until dim).map { i =>
      var z = (p * dim + i).toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if (((z >>> 33) & 1L) == 0L) 1.0 else -1.0
    }

  private def planeLit(pl: Seq[Double]): Column = array(pl.map(lit): _*)

  private def planeSql(pl: Seq[Double]): String =
    pl.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Sign-bucket over an arbitrary plane set from family `fam`: bit i set
    * iff dot(v, fam(ps(i))) > 0. `bucket` below is the legacy 8-plane form.
    */
  private def bucketOf(ps: Seq[Int], fam: Int => Seq[Double])(v: Column): Column =
    ps.zipWithIndex
      .map { case (p, i) =>
        when(Portable.dot(v, planeLit(fam(p))) > 0.0, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)

  private def bucketSqlOf(ps: Seq[Int], fam: Int => Seq[Double], v: String): String =
    ps.zipWithIndex
      .map { case (p, i) =>
        s"CASE WHEN list_dot_product($v, ${planeSql(fam(p))}) > 0.0 THEN ${1L << i} ELSE 0 END" }
      .mkString(" + ")

  /** 8-bit LSH bucket: bit j set iff dot(v, hyperplane_j) > 0. */
  private def bucket(v: Column): Column =
    bucketOf(0 until numPlanes, planeVec)(v)

  private def bucketSql(v: String): String =
    bucketSqlOf(0 until numPlanes, planeVec, v)

  /** (vec_id, e, en): raw vector + unit-normalized vector. Normalizing
    * ONCE per vector makes every candidate-pair cosine a single fold
    * (`dot(qen, cen)`) instead of three (dot + two norms) — at n queries ×
    * m candidates that's the dominant cost. Zero-norm vectors get a null
    * `en`, which null-propagates through the dot — same null contract as
    * [[Portable.cosine]]. The norm is materialized as an attribute before
    * the per-element divide so the interpreted lambda doesn't re-fold it.
    */
  private def normalizedEmb(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("_n", Portable.norm(col("e")))
      .withColumn("en",
        when(col("_n") =!= 0.0, transform(col("e"), x => x / col("_n"))))
      .drop("_n")

  private val normalizedSql = s"""
      raw AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      emb AS (SELECT vec_id, label, e,
                     CASE WHEN list_dot_product(e, e) > 0
                          THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                          ELSE NULL END AS en
              FROM raw)"""

  // ---- e01: brute-force cosine top-k ---------------------------------

  /** Exact top-k pairs (qid, cid, rnk, cos) — e01's core, reused by the
    * e09 recall audit.
    */
  private def knnBruteBuild(s: SparkSession, d: String): DataFrame = {
    val emb = normalizedEmb(s, d)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("en").as("qe"))
    val scored = broadcast(queries).crossJoin(
      emb.select(col("vec_id").as("cid"), col("en").as("ce")))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), Portable.dot(col("qe"), col("ce")).as("cos"))
    graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
  }

  /** Exact cosine top-k as a per-(dataset, process) artifact: it is the
    * ground truth for FOUR audits (e09/e15/e18/e22) plus e01's own
    * output, and the exact brute-force pass is the single most expensive
    * subtree in the family — checkpoint once, every consumer reads the
    * table back (the Artifacts contract the MIPS/LSH-pair tables use).
    */
  private def knnBrute(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "knn_brute")(knnBruteBuild(s, d))

  private val e01 = Q(
    "e01_knn_brute",
    (s, d) => knnBrute(s, d)
      .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim")),
    Some(s"""
      WITH $normalizedSql,
      q AS (SELECT vec_id AS qid, en AS qe FROM emb WHERE vec_id % 100 = 0),
      scored AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, en AS ce FROM emb) c
        WHERE qid <> c.vec_id),
      ${OracleSql.knnTailSql(k)}
    """))

  // ---- e02: LSH-bucketed approximate top-k ---------------------------

  /** LSH-bucketed approximate top-k — e02's core, reused by e09.
    * Artifact-shared for the same reason as [[knnBrute]]: two consumers.
    */
  private def knnLsh(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "knn_lsh")(knnLshBuild(s, d))

  private def knnLshBuild(s: SparkSession, d: String): DataFrame = {
    val emb = normalizedEmb(s, d).withColumn("bkt", bucket(col("e")))
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("en").as("qe"), col("bkt"))
    val cands = emb.select(col("vec_id").as("cid"), col("en").as("ce"), col("bkt"))
    val scored = broadcast(queries).join(cands, Seq("bkt"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), Portable.dot(col("qe"), col("ce")).as("cos"))
    graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
  }

  private val e02 = Q(
    "e02_knn_lsh",
    (s, d) => knnLsh(s, d)
      .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim")),
    Some(s"""
      WITH $normalizedSql,
      b AS (SELECT vec_id, en, ${bucketSql("e")} AS bkt FROM emb),
      q AS (SELECT vec_id AS qid, en AS qe, bkt FROM b WHERE vec_id % 100 = 0),
      scored AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q JOIN (SELECT vec_id, en AS ce, bkt FROM b) c USING (bkt)
        WHERE qid <> c.vec_id),
      ${OracleSql.knnTailSql(k)}
    """))

  // ---- near-dup shared fixture (doubled corpus + banded geometry) -----

  private val dupShift = 1000000L

  /** The doubled corpus (every vector gets one exact duplicate at
    * vec_id + dupShift) — the deterministic near-dup fixture shared by
    * e29/e30/e33.
    */
  private def doubledEmb(s: SparkSession, d: String): DataFrame = {
    val raw = normalizedEmb(s, d).select(col("vec_id"), col("e"), col("en"))
    raw.unionAll(
      raw.select((col("vec_id") + dupShift).as("vec_id"), col("e"), col("en")))
  }

  /** (vec_id, band, bkt) rows of `emb` under the given geometry. */
  private def bandRowsOf(emb: DataFrame, bandPlanes: Seq[Seq[Int]],
                         fam: Int => Seq[Double]): DataFrame =
    emb.select(col("vec_id"),
        explode(array(bandPlanes.zipWithIndex.map { case (ps, b) =>
          struct(lit(b).as("band"),
            bucketOf(ps, fam)(col("e")).as("bkt")) }: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkt").as("bkt"))

  /** The doubled corpus's band table under the PRODUCTION mix16x4
    * geometry, as its own artifact: the banding is the index a managed
    * deployment persists, and it has two independent consumers — the
    * e29/e30 pair build and the e33 leakage probe — that must not each
    * recompute the 64-dot-products-per-vector bucketing.
    */
  private def dblBandsMix(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "dbl_bands_mix") {
      bandRowsOf(doubledEmb(s, d), bandedPlanes, planeVecMix)
    }

  private def scoredCandidatesFrom(
      s: SparkSession, d: String, tag: String, bands: DataFrame): DataFrame =
    graft.etl.Artifacts.shared(s, d, tag) {
      val emb = doubledEmb(s, d)
      val cand = bands.select(col("vec_id").as("vec_a"), col("band"), col("bkt"))
        .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("bkt")),
          Seq("band", "bkt"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b")).distinct()
      cand
        .join(emb.select(col("vec_id").as("vec_a"), col("en").as("ea")), Seq("vec_a"))
        .join(emb.select(col("vec_id").as("vec_b"), col("en").as("eb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          Portable.dot(col("ea"), col("eb")).as("cos"))
    }

  // Retired in round 12: the deprecated 8-plane near-dup family
  // (e03_embed_neardup / e07_semantic_neardup and the e13 geometry
  // audit that condemned it). The correlated legacy family's ~93
  // effective buckets made the bucket self-join ≈ N²/93 — quadratic at
  // corpus scale; e29/e30 (the banded mix16x4 production entries below)
  // are the maintained near-dup surface, and RoundSevenOpsSpec pins the
  // planted-recall-1.0 / candidate-volume-≈-planted claims directly on
  // e29's output.

  // ---- e04: IVF (inverted-file) approximate top-k ---------------------
  //
  // Coarse quantizer: nCells sampled centroids (the first nCells vectors
  // by id — deterministic, no training iterations; at 100 TB you'd
  // k-means a sample, broadcast the centroids, and keep exactly this
  // plan shape). Every vector is assigned to its best cell via a max_by
  // AGGREGATION (map-side partial agg, no sort) — a window argmax here
  // would force a full sort-shuffle of the vectors×nCells affinity rows,
  // the avoidable dominant shuffle at scale. Only the query subset (1%)
  // takes a window, to pick its nProbe best cells. A query then scores
  // only its probed cells' members — the candidate set shrinks by
  // ~nCells/nProbe vs brute force, and the probe join is an equi-join on
  // cell id (shuffle by cell, no cross join).

  private val nCells = 16
  private val nProbe = 2

  private val e04 = Q(
    "e04_knn_ivf",
    (s, d) => {
      val emb = normalizedEmb(s, d)
      val cents = emb.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cent_id"), col("en").as("cen"))
      val affinity = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("en"), col("cent_id"),
          Portable.dot(col("en"), col("cen")).as("cd"))
      // (cd DESC, cent_id ASC) argmax as a lexicographic max_by — the
      // deterministic tie-break the window's ORDER BY used to provide
      val ord = struct(col("cd"), (-col("cent_id")).as("_nc"))
      val members = affinity.groupBy(col("vec_id"))
        .agg(max_by(struct(col("cent_id"), col("en")), ord).as("b"))
        .select(col("vec_id").as("cid"), col("b.en").as("ce"), col("b.cent_id").as("cent_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cd").desc, col("cent_id").asc)
      val probes = affinity.filter(col("vec_id") % 100 === 0)
        .withColumn("crnk", row_number().over(w))
        .filter(col("crnk") <= nProbe)
        .select(col("vec_id").as("qid"), col("en").as("qe"), col("cent_id"))
      // broadcast the probe side: |Q|×nProbe rows vs the full corpus
      // assignment table — without the hint this is a sort-merge join
      // that shuffles every corpus vector on cent_id (the avoidable
      // dominant shuffle at 100 TB; the corpus side stays in place now)
      val scored = broadcast(probes).join(members, Seq("cent_id"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), Portable.dot(col("qe"), col("ce")).as("cos"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
        .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim"))
    },
    Some(s"""
      WITH $normalizedSql,
      cents AS (SELECT vec_id AS cent_id, en AS cen FROM emb WHERE vec_id < $nCells),
      affinity AS (
        SELECT e.vec_id, e.en, c.cent_id, list_dot_product(e.en, c.cen) AS cd
        FROM emb e CROSS JOIN cents c),
      -- (cd DESC, cent_id ASC) argmax, aggregation-only: max cd per
      -- vector, then min cent_id among the max rows (DuckDB's arg_max
      -- can't take a composite order key) — exact same pick as the Spark
      -- side's lexicographic max_by
      mx AS (SELECT vec_id, max(cd) AS mcd FROM affinity GROUP BY vec_id),
      members AS (
        SELECT a.vec_id AS cid,
               arg_min(a.en, a.cent_id) AS ce,
               min(a.cent_id) AS cent_id
        FROM affinity a JOIN mx ON mx.vec_id = a.vec_id AND a.cd = mx.mcd
        GROUP BY a.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cd DESC, cent_id ASC) AS crnk
        FROM affinity WHERE vec_id % 100 = 0),
      probes AS (SELECT vec_id AS qid, en AS qe, cent_id
                 FROM ranked WHERE crnk <= $nProbe),
      scored AS (
        SELECT qid, cid, list_dot_product(qe, ce) AS cos
        FROM probes JOIN members USING (cent_id)
        WHERE qid <> cid),
      ${OracleSql.knnTailSql(k)}
    """))

  /** Per-vector affine SQ8 codes — e05's audit and e20's search kernel
    * share one definition (min/max → 0..255 codes as exact
    * integer-valued longs).
    */
  private def sq8(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("mn", array_min(col("e")))
      .withColumn("mx", array_max(col("e")))
      .withColumn("sc", (col("mx") - col("mn")) / lit(255.0))
      .withColumn("qv",
        when(col("mx") > col("mn"),
          transform(col("e"), x =>
            least(lit(255.0), greatest(lit(0.0),
              round((x - col("mn")) / col("sc")))).cast("long")))
          .otherwise(transform(col("e"), _ => lit(0L))))

  /** DuckDB mirror of [[sq8]] — CTE body producing (vec_id, e, mn, sc, qv). */
  private val sq8Sql = s"""
      raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      st AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM raw),
      q AS (SELECT vec_id, e, mn, (mx - mn) / 255.0 AS sc,
                   CASE WHEN mx > mn
                     THEN list_transform(e, x -> CAST(least(255.0, greatest(0.0,
                            round((x - mn) / ((mx - mn) / 255.0)))) AS BIGINT))
                     ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv
            FROM st)"""

  // ---- e05: per-vector int8 quantization ------------------------------
  //
  // The storage/bandwidth step of a 100 TB embedding pipeline: affine
  // scalar quantization per vector (min/max → scale, 0..255 codes) with
  // a reconstruction-error audit. Pure per-row map work — no shuffle at
  // all; the checksum columns (qsum, qweighted) make the code array
  // hash-comparable without dumping 64 ints per row. max_err uses
  // array_max (order-independent) rather than a float sum, so the audit
  // is bit-stable under any evaluation order.

  private val e05 = Q(
    "e05_embed_quantize",
    (s, d) => {
      val emb = sq8(s, d)
      emb.select(col("vec_id"),
        round(col("mn"), 6).as("qmin"),
        round(col("sc"), 6).as("qscale"),
        aggregate(col("qv"), lit(0L), (a, v) => a + v).as("qsum"),
        aggregate(
          zip_with(col("qv"), sequence(lit(1L), lit(dim.toLong)), (q, i) => q * i),
          lit(0L), (a, v) => a + v).as("qweighted"),
        round(array_max(zip_with(col("qv"), col("e"),
          (q, x) => abs(x - (col("mn") + q * col("sc"))))), 6).as("max_err"))
    },
    Some(s"""
      WITH $sq8Sql
      SELECT vec_id,
             round(mn, 6) AS qmin,
             round(sc, 6) AS qscale,
             CAST(list_sum(qv) AS BIGINT) AS qsum,
             CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> qv[i] * i)) AS BIGINT) AS qweighted,
             round(list_max(list_transform(range(1, ${dim + 1}),
               i -> abs(e[i] - (mn + qv[i] * sc)))), 6) AS max_err
      FROM q
    """))

  // ---- e06: k-means (2 Lloyd iterations) over fixed-point vectors -----
  //
  // The clustering primitive behind SemDeDup-style semantic dedup and
  // IVF coarse-quantizer training. Cross-engine float k-means is
  // hash-unstable (centroid sums depend on aggregation order), so the
  // vectors are fixed-point quantized first (round(x·1000) — exact
  // integer-valued doubles) and centroids use floor-of-mean: every
  // distance and update is then exact integer math in BOTH engines and
  // the fixpoint is bit-reproducible.
  //
  // Scale shape: centroids are k rows — broadcast to every assignment
  // (the corpus is never shuffled for assignment, and the
  // |x|²+|c|²−2x·c expansion reuses the codegen'd DotProduct); the
  // update is posexplode → (cluster, dim) groupBy with map-side partial
  // sums, k×dim rows out. Iterations add plan depth linearly; a
  // production loop checkpoints per round (see Dedup.resolveClusters).

  private val kClusters = 8
  private val fxScale = 1000.0

  private def fxVectors(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.embeddings(s, d))
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * fxScale)).as("q"))

  /** Assign each vector to its nearest centroid: (dist ASC, cent_id ASC)
    * lexicographic argmin via min_by — aggregation-only, no window sort.
    */
  private def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // one Lloyd pass per call; the accumulated count lands in the bench
    // artifact's `iters` field (e06 variance attribution: the pass
    // count is read off the artifact, not argued from seed stability)
    graft.etl.IterStats.add("lloyd_assign_passes", 1)
    val aff = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("q"), col("cent_id"),
        (Portable.dot(col("q"), col("q")) + Portable.dot(col("c"), col("c"))
          - lit(2.0) * Portable.dot(col("q"), col("c"))).cast("long").as("dist"))
    aff.groupBy(col("vec_id"))
      .agg(
        min_by(struct(col("cent_id"), col("q")),
          struct(col("dist"), col("cent_id"))).as("b"),
        min(col("dist")).as("dist"))
  }

  private val e06 = Q(
    "e06_kmeans_fixpoint",
    (s, d) => {
      val fx = fxVectors(s, d)
      val cents0 = fx.filter(col("vec_id") < kClusters)
        .select(col("vec_id").as("cent_id"), col("q").as("c"))
      val asg1 = assignCells(fx, cents0)
      val cents1 = asg1
        .select(col("b.cent_id").as("cluster"),
          posexplode(col("b.q")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", floor(col("sv") / col("n")).cast("double"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("c"))
        .select(col("cluster").as("cent_id"), col("c"))
      assignCells(fx, cents1)
        .select(col("vec_id"), col("b.cent_id").as("cluster"), col("dist"))
    },
    Some(s"""
      WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      fx AS (SELECT vec_id, list_transform(e, x -> round(x * $fxScale)) AS q FROM raw),
      c0 AS (SELECT vec_id AS cent_id, q AS c FROM fx WHERE vec_id < $kClusters),
      a1 AS (SELECT f.vec_id, f.q, c.cent_id,
                    CAST(list_dot_product(f.q, f.q) + list_dot_product(c.c, c.c)
                         - 2 * list_dot_product(f.q, c.c) AS BIGINT) AS dist
             FROM fx f CROSS JOIN c0 c),
      m1 AS (SELECT vec_id, min(dist) AS md FROM a1 GROUP BY 1),
      g1 AS (SELECT a.vec_id, a.q, min(a.cent_id) AS cluster
             FROM a1 a JOIN m1 ON m1.vec_id = a.vec_id AND a.dist = m1.md
             GROUP BY 1, 2),
      ex AS (SELECT cluster, unnest(range(1, ${dim + 1})) AS pos, q FROM g1),
      dimsum AS (SELECT cluster, pos, CAST(sum(q[pos]) AS BIGINT) AS sv, count(*) AS n
                 FROM ex GROUP BY 1, 2),
      c1 AS (SELECT cluster AS cent_id,
                    list(CAST(floor(CAST(sv AS DOUBLE) / n) AS DOUBLE) ORDER BY pos) AS c
             FROM dimsum GROUP BY 1),
      a2 AS (SELECT f.vec_id, c.cent_id,
                    CAST(list_dot_product(f.q, f.q) + list_dot_product(c.c, c.c)
                         - 2 * list_dot_product(f.q, c.c) AS BIGINT) AS dist
             FROM fx f CROSS JOIN c1 c),
      m2 AS (SELECT vec_id, min(dist) AS md FROM a2 GROUP BY 1)
      SELECT a.vec_id, min(a.cent_id) AS cluster, min(a.dist) AS dist
      FROM a2 a JOIN m2 ON m2.vec_id = a.vec_id AND a.dist = m2.md
      GROUP BY 1
    """))

  // ---- e08: product quantization (PQ) encoding ------------------------
  //
  // The ANN-index compression step: split each 64-dim vector into m = 8
  // subspaces of 8 dims, encode each subspace as the id of its nearest
  // of 16 codebook centroids → a 64-dim float vector becomes one 32-bit
  // code (8 × 4 bits), 32× smaller than float32. Codebooks here are the
  // first 16 vectors' subvectors (deterministic; at 100 TB you'd k-means
  // a sample per subspace — e06 is exactly that trainer). Fixed-point
  // math keeps every distance exact integer in both engines (the e06
  // argument); the packed code is Σ kⱼ·2^(4j) — exact double arithmetic
  // below 2^53, bit-identical cross-engine.
  //
  // Scale shape: subspace explode is partition-local (8× rows, 1/8 the
  // vector each); the codebook (m × 16 rows) broadcasts; per-(vector,
  // subspace) argmin and the final per-vector pack are groupBys with
  // partial aggregation. The corpus is never shuffled to be encoded.

  private val pqSubspaces = 8
  private val pqSubDim = dim / pqSubspaces
  private val pqK = 16

  /** Subspace split: (vec_id, j, sub) — partition-local explode, 8× rows
    * at 1/8 the vector each. Shared by e08/e10/e11.
    */
  private def pqSubs(fx: DataFrame): DataFrame =
    fx.select(col("vec_id"),
        explode(sequence(lit(0), lit(pqSubspaces - 1))).as("j"), col("q"))
      .select(col("vec_id"), col("j"),
        slice(col("q"), col("j") * pqSubDim + 1, lit(pqSubDim)).as("sub"))

  /** Per-(vector, subspace, centroid) integer L2 affinities against the
    * broadcast codebook (pqK subvectors drawn from vec_ids starting at
    * `cbookFrom`). Shared by e08/e10/e11/e16 — the codebook broadcast
    * means the corpus is never shuffled to be encoded. e16 passes
    * `cbookFrom = nCells`: in residual space, vec_ids < nCells ARE the
    * IVF centroids and their residuals are exactly zero — a codebook
    * drawn from them would be 16 copies of the zero vector.
    */
  /** The pqK-entry codebook drawn from subspace rows — THE single
    * definition of the codebook draw, shared by encode ([[pqAff]]) and
    * the e16 query-side LUT (which must key the SAME codebook or ADC
    * distances silently reference the wrong centroids).
    */
  private def pqCodebook(subs: DataFrame, cbookFrom: Int): DataFrame =
    subs
      .filter(col("vec_id") >= cbookFrom && col("vec_id") < cbookFrom + pqK)
      .select(col("j"), (col("vec_id") - cbookFrom).as("k"), col("sub").as("csub"))

  private def pqAff(subs: DataFrame, cbookFrom: Int = 0): DataFrame = {
    subs.join(broadcast(pqCodebook(subs, cbookFrom)), Seq("j"))
      .select(col("vec_id"), col("j"), col("k"),
        (Portable.dot(col("sub"), col("sub"))
          + Portable.dot(col("csub"), col("csub"))
          - lit(2.0) * Portable.dot(col("sub"), col("csub")))
          .cast("long").as("dist"))
  }

  private val e08 = Q(
    "e08_pq_encode",
    (s, d) => pqCodes(s, d).groupBy(col("vec_id"))
      .agg(
        sum(col("k") * pow(lit(2.0), col("j") * 4)).cast("long").as("pq_code"),
        sum(col("dist")).as("pq_err")),
    Some(s"""
      WITH $pqChainSql
      SELECT vec_id,
             CAST(sum(k * (2 ** (4 * j))) AS BIGINT) AS pq_code,
             CAST(sum(dist) AS BIGINT) AS pq_err
      FROM code GROUP BY 1
    """))

  /** Shared DuckDB chain for the PQ family (e08 encode, e10 search):
    * fixed-point vectors → subspace split → codebook → per-(vector,
    * subspace) affinities → lexicographic argmin codes.
    */
  private lazy val pqChainSql = s"""
      raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      fx AS (SELECT vec_id, list_transform(e, x -> round(x * $fxScale)) AS q FROM raw),
      subs AS (
        SELECT vec_id, j, list_slice(q, j*$pqSubDim+1, j*$pqSubDim+$pqSubDim) AS sub
        FROM fx CROSS JOIN (SELECT unnest(range(0, $pqSubspaces)) AS j)),
      cents AS (
        SELECT j, vec_id AS k, sub AS csub FROM subs WHERE vec_id < $pqK),
      aff AS (
        SELECT s.vec_id, s.j, c.k,
               CAST(list_dot_product(s.sub, s.sub) + list_dot_product(c.csub, c.csub)
                    - 2 * list_dot_product(s.sub, c.csub) AS BIGINT) AS dist
        FROM subs s JOIN cents c ON c.j = s.j),
      mn AS (SELECT vec_id, j, min(dist) AS md FROM aff GROUP BY 1, 2),
      code AS (
        SELECT a.vec_id, a.j, min(a.k) AS k, min(a.dist) AS dist
        FROM aff a JOIN mn ON mn.vec_id = a.vec_id AND mn.j = a.j AND a.dist = mn.md
        GROUP BY 1, 2)"""

  // ---- e10: PQ asymmetric-distance search (ADC) -----------------------
  //
  // The search half of the PQ story (e08 is the encode half): queries
  // keep their exact (fixed-point) subvectors; candidates are
  // represented ONLY by their 4-bit codes. Per query, a lookup table of
  // subspace-distances to each codebook centroid (|Q|·m·16 integer
  // rows — broadcast), and a candidate's approximate distance is the
  // SUM of table lookups selected by its code — never touching the
  // original vectors. All distances are exact integers (fixed-point),
  // so ranking is engine-exact with no tolerance.
  //
  // Scale: the per-query LUT broadcast replaces any query×corpus vector
  // math; the scoring join keys on (j, k) and aggregates map-side. At
  // 100 TB you'd first restrict candidates by IVF cell (e04) — IVF-PQ —
  // which drops the scored set by nCells/nProbe; the plan shape here is
  // that inner ADC kernel.

  private val e10 = Q(
    "e10_pq_adc_search",
    (s, d) => {
      val codes = pqCodes(s, d)
      // ADC lookup table = the query rows of the same affinity relation
      val lut = pqLut(s, d)
      val scored = codes.select(col("vec_id").as("cid"), col("j"), col("k"))
        .join(broadcast(lut), Seq("j", "k"))
        .groupBy(col("qid"), col("cid"))
        .agg(sum(col("dist")).as("adc_dist"))
        .filter(col("qid") =!= col("cid"))
      graft.etl.TopK.bottomK(scored, Seq(col("qid")), col("adc_dist"), col("cid"), k)
        .select(col("qid"), col("cid"), col("rnk"), col("adc_dist"))
    },
    Some(s"""
      WITH $pqChainSql,
      lut AS (SELECT vec_id AS qid, j, k, dist FROM aff WHERE vec_id % 100 = 0),
      scored AS (
        SELECT l.qid, c.vec_id AS cid, CAST(sum(l.dist) AS BIGINT) AS adc_dist
        FROM code c JOIN lut l ON l.j = c.j AND l.k = c.k
        WHERE l.qid <> c.vec_id
        GROUP BY 1, 2),
      r AS (SELECT qid, cid, adc_dist,
                   CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY adc_dist ASC, cid ASC) AS INTEGER) AS rnk
            FROM scored)
      SELECT qid, cid, rnk, adc_dist FROM r WHERE rnk <= $k
    """))

  // ---- e09: ANN recall audit (LSH vs exact) ---------------------------
  //
  // The index-quality gate: recall@k of the LSH index (e02) against the
  // exact top-k (e01), per query — the number you check before trusting
  // an ANN index at scale, and the one that decides band geometry /
  // probe counts. Output is pure integers (hits of k), so the audit is
  // engine-exact. Plan: the two k-row-per-query results join on
  // (qid, cid) — both sides are tiny relative to the corpus (|Q|·k
  // rows); the heavy work is the underlying searches themselves.

  private val e09 = Q(
    "e09_ann_recall",
    (s, d) => {
      val exact = knnBrute(s, d).select(col("qid"), col("cid"))
      val approx = knnLsh(s, d).select(col("qid"), col("cid"))
      val hits = exact.join(approx, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    },
    Some(s"""
      WITH $normalizedSql,
      b AS (SELECT vec_id, en, ${bucketSql("e")} AS bkt FROM emb),
      q AS (SELECT vec_id AS qid, en AS qe FROM emb WHERE vec_id % 100 = 0),
      scored_ex AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, en AS ce FROM emb) c
        WHERE qid <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ex),
      ex AS (SELECT qid, cid FROM rex WHERE rnk <= $k),
      qb AS (SELECT vec_id AS qid, en AS qe, bkt FROM b WHERE vec_id % 100 = 0),
      scored_ap AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM qb JOIN (SELECT vec_id, en AS ce, bkt FROM b) c USING (bkt)
        WHERE qid <> c.vec_id),
      rap AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ap),
      ap AS (SELECT qid, cid FROM rap WHERE rnk <= $k),
      hits AS (SELECT qid, count(*) AS n_hits
               FROM ex JOIN ap USING (qid, cid) GROUP BY 1)
      SELECT qid, count(*) AS n_exact,
             CAST(coalesce(any_value(n_hits), 0) AS BIGINT) AS n_hits
      FROM ex LEFT JOIN hits USING (qid)
      GROUP BY qid
    """))

  // ---- e11: IVF-PQ search with exact rerank (production ANN) ----------
  //
  // The composed operator e04 + e10 promise separately, plus the standard
  // refinement stage: a query probes its ivfProbe nearest IVF cells, ONLY
  // those cells' members are ADC-scored from their 4-bit PQ codes (never
  // from the original vectors), and the ADC top-R shortlist is reranked
  // with exact distances — the FAISS IVFPQR shape. All three layers live
  // in the same metric (integer L2 over the fixed-point vectors), so the
  // coarse restriction, the ADC ranking, and the rerank agree; the e12
  // audit measures what the composition costs in recall.
  //
  // Parameter note: nCells=16 is sized to this corpus (production uses
  // ~√N cells and a small nProbe fraction); ivfProbe=4 and rerankR=100
  // are the knobs e12 tunes. This corpus (uniform-random vectors, no
  // cluster structure) is ANN's adversarial case — distance gaps between
  // the 5th and 50th neighbor are small relative to 32-bit-code
  // quantization error, which is exactly why the rerank stage exists:
  // pure ADC recall@5 here is ~0.07, rerank lifts it to ~0.4, and the
  // remaining loss is the coarse layer (probed fraction), not the codes.
  //
  // Scale shape: the "index" relation (vec_id, cent_id, j, k) is what a
  // production deployment persists, partitioned BY cent_id — the inverted
  // file. Building it here joins two groupBy outputs on vec_id (both
  // already hash-partitioned by vec_id; with broadcast centroids/codebooks
  // the production build is a zero-shuffle projection). At search time the
  // corpus index is never shuffled: probes (|Q|·ivfProbe rows), the ADC
  // LUT (|Q|·m·16 rows), and the rerank shortlist (|Q|·R ids) broadcast;
  // the per-(qid,cid) sum aggregates map-side; with cent_id partitioning
  // only the probed cells are even read; and the rerank fetches |Q|·R
  // full vectors — the only time original vectors are touched.

  private val ivfProbe = 4
  private val rerankR = 100

  /** IVF coarse layer shared by e11/e16: deterministic centroids
    * (cent_id, c), per-vector cell assignment (vec_id, cent_id), and the
    * query probe set (qid, cent_id) — integer-L2 space throughout (a
    * cosine coarse layer would rank a different metric than the ADC
    * scores it gates). Assignment is a (dist ASC, cent_id ASC) argmin
    * via min_by — aggregation-only, no window sort.
    */
  private def ivfLayer(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // centroids derive from fxVectors HERE, not from a caller-supplied
    // frame: members and probes below are artifacts built over the full
    // fxVectors, so a caller passing a filtered/modified vector frame
    // would silently get centroids inconsistent with the cell layer —
    // deriving all three from the same source removes the trap
    val cents = fxVectors(s, d).filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("q").as("c"))
    // cell assignment + ranked query probes are artifacts: the same
    // coarse layer feeds e11/e16 (via their own shared results), and
    // e25's nProbe sweep reads the ranked probes directly — computed
    // once per (dataset, process) instead of once per consumer
    (cents, ivfMembers(s, d), ivfProbesRanked(s, d)
      .filter(col("crnk") <= ivfProbe).select(col("qid"), col("cent_id")))
  }

  /** (vec_id, cent_id): integer-L2 cell assignment of the whole corpus
    * against the deterministic centroids — aggregation-only argmin.
    */
  private def ivfMembers(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "ivf_members") {
      val fx = fxVectors(s, d)
      val cents = fx.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cent_id"), col("q").as("c"))
      fx.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
          (Portable.dot(col("q"), col("q")) + Portable.dot(col("c"), col("c"))
            - lit(2.0) * Portable.dot(col("q"), col("c"))).cast("long").as("dist"))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cent_id"), struct(col("dist"), col("cent_id"))).as("cent_id"))
    }

  /** (qid, cent_id, crnk ≤ max probe budget): each query's cells ranked
    * by integer-L2 distance — e11/e16 take crnk ≤ ivfProbe, the e25
    * sweep slices the same table at every sweep point.
    */
  private def ivfProbesRanked(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "ivf_probes") {
      val fx = fxVectors(s, d)
      val cents = fx.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cent_id"), col("q").as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist").asc, col("cent_id").asc)
      fx.filter(col("vec_id") % 100 === 0).crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
          (Portable.dot(col("q"), col("q")) + Portable.dot(col("c"), col("c"))
            - lit(2.0) * Portable.dot(col("q"), col("c"))).cast("long").as("dist"))
        .withColumn("crnk", row_number().over(w))
        .filter(col("crnk") <= math.max(ivfProbe, sweepProbes.max))
        .select(col("vec_id").as("qid"), col("cent_id"), col("crnk"))
    }

  /** (vec_id, j, k, dist): raw-space PQ codes (+ per-subspace residual
    * error) for the whole corpus — consumed by e08's pack, e10's search,
    * and e11's inverted file; the full-corpus affinity groupBy runs once.
    */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "pq_codes") {
      pqAff(pqSubs(fxVectors(s, d)))
        .groupBy(col("vec_id"), col("j"))
        .agg(min_by(col("k"), struct(col("dist"), col("k"))).as("k"),
          min(col("dist")).as("dist"))
    }

  /** Per-query ADC lookup table (qid, j, k, dist): the affinity relation
    * restricted to query vectors. Rebuilding it from the query subset ∪
    * codebook rows touches ~|Q|+pqK vectors, not the corpus — the
    * codebook draw is identical because [[pqCodebook]] filters by vec_id.
    */
  private def pqLut(s: SparkSession, d: String): DataFrame = {
    val fxq = fxVectors(s, d)
      .filter(col("vec_id") % 100 === 0 || col("vec_id") < pqK)
    pqAff(pqSubs(fxq)).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("j"), col("k"), col("dist"))
  }

  /** e11 core (qid, cid, rnk, dist) — artifact-shared: its own entry plus
    * the e12 recall audit and the e17 encoder audit all read it.
    */
  private def ivfPqSearch(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "ivfpq_search")(ivfPqSearchBuild(s, d))

  private def ivfPqSearchBuild(s: SparkSession, d: String): DataFrame = {
    val fx = fxVectors(s, d)
    val (_, members, probes) = ivfLayer(s, d)
    // PQ fine layer: shared corpus codes + query-restricted LUT
    val codes = pqCodes(s, d).select(col("vec_id"), col("j"), col("k"))
    val lut = pqLut(s, d)
    // the inverted file: PQ codes tagged with their IVF cell
    val index = codes.join(members, Seq("vec_id"))
    val adc = index
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(lut), Seq("qid", "j", "k"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dist")).as("adc_dist"))
      .select(col("qid"), col("vec_id").as("cid"), col("adc_dist"))
    adcRerank(adc, fx)
  }

  /** ADC tail shared by e11/e16: top-R shortlist by approximate distance,
    * then exact integer-L2 rerank on the |Q|·R pairs only.
    */
  private def adcRerank(adc: DataFrame, fx: DataFrame): DataFrame = {
    val shortlist = graft.etl.TopK.perGroup(
        adc, Seq(col("qid")), Seq(col("adc_dist").asc, col("cid").asc),
        rerankR, rankCol = "srnk")
      .select(col("qid"), col("cid"))
    // refine: exact integer L2 on the |Q|·R shortlist only
    val withQ = broadcast(shortlist)
      .join(fx.select(col("vec_id").as("qid"), col("q").as("qq")), Seq("qid"))
    val rr = broadcast(withQ)
      .join(fx.select(col("vec_id").as("cid"), col("q").as("cq")), Seq("cid"))
      .select(col("qid"), col("cid"),
        (Portable.dot(col("qq"), col("qq")) + Portable.dot(col("cq"), col("cq"))
          - lit(2.0) * Portable.dot(col("qq"), col("cq"))).cast("long").as("dist"))
    graft.etl.TopK.bottomK(rr, Seq(col("qid")), col("dist"), col("cid"), k)
  }

  /** Shared DuckDB chain for IVF-PQ (e11 search, e12 recall audit):
    * extends [[pqChainSql]] with the coarse cell layer, the probe pick,
    * the inverted file, and the cell-restricted ADC scoring, ending in a
    * CTE `ivfpq(qid, cid, rnk, adc_dist)`.
    */
  private lazy val ivfPqChainSql = s"""
      $pqChainSql,
      icents AS (SELECT vec_id AS cent_id, q AS c FROM fx WHERE vec_id < $nCells),
      iaff AS (
        SELECT f.vec_id, c.cent_id,
               CAST(list_dot_product(f.q, f.q) + list_dot_product(c.c, c.c)
                    - 2 * list_dot_product(f.q, c.c) AS BIGINT) AS dist
        FROM fx f CROSS JOIN icents c),
      imn AS (SELECT vec_id, min(dist) AS md FROM iaff GROUP BY 1),
      members AS (
        SELECT a.vec_id, min(a.cent_id) AS cent_id
        FROM iaff a JOIN imn ON imn.vec_id = a.vec_id AND a.dist = imn.md
        GROUP BY 1),
      iranked AS (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist ASC, cent_id ASC) AS crnk
        FROM iaff WHERE vec_id % 100 = 0),
      probes AS (SELECT vec_id AS qid, cent_id FROM iranked WHERE crnk <= $ivfProbe),
      lut AS (SELECT vec_id AS qid, j, k, dist FROM aff WHERE vec_id % 100 = 0),
      idx AS (SELECT c.vec_id, c.j, c.k, m.cent_id
              FROM code c JOIN members m USING (vec_id)),
      adc AS (
        SELECT p.qid, i.vec_id AS cid, CAST(sum(l.dist) AS BIGINT) AS adc_dist
        FROM idx i JOIN probes p USING (cent_id)
                   JOIN lut l ON l.qid = p.qid AND l.j = i.j AND l.k = i.k
        WHERE p.qid <> i.vec_id
        GROUP BY 1, 2),
      short AS (
        SELECT qid, cid FROM (
          SELECT qid, cid, row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, cid ASC) AS srnk
          FROM adc)
        WHERE srnk <= $rerankR),
      rr AS (
        SELECT s.qid, s.cid,
               CAST(list_dot_product(q.q, q.q) + list_dot_product(c.q, c.q)
                    - 2 * list_dot_product(q.q, c.q) AS BIGINT) AS dist
        FROM short s JOIN fx q ON q.vec_id = s.qid
                     JOIN fx c ON c.vec_id = s.cid),
      ivfpq AS (
        SELECT qid, cid, dist,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dist ASC, cid ASC) AS INTEGER) AS rnk
        FROM rr)"""

  private val e11 = Q(
    "e11_ivf_pq_search",
    (s, d) => ivfPqSearch(s, d)
      .select(col("qid"), col("cid"), col("rnk"), col("dist")),
    Some(s"""
      WITH $ivfPqChainSql
      SELECT qid, cid, rnk, dist FROM ivfpq WHERE rnk <= $k
    """))

  // ---- e12: IVF-PQ recall audit (vs exact integer-L2 top-k) -----------
  //
  // e09's discipline applied to the composed index: recall@k of e11
  // against the exact fixed-point-L2 top-k (brute force, query side
  // broadcast — the declared correctness baseline, like e01 is for e02).
  // Both sides are integer-exact, so the audit is engine-exact. This is
  // the number that tunes nCells/nProbe before trusting the index.

  /** Exact integer-L2 top-k over the fixed-point vectors —
    * artifact-shared ground truth for e12/e17/e25.
    */
  private def knnExactL2(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "knn_exact_l2")(knnExactL2Build(s, d))

  private def knnExactL2Build(s: SparkSession, d: String): DataFrame = {
    val fx = fxVectors(s, d)
    val queries = fx.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val scored = broadcast(queries)
      .crossJoin(fx.select(col("vec_id").as("cid"), col("q").as("cq")))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (Portable.dot(col("qq"), col("qq")) + Portable.dot(col("cq"), col("cq"))
          - lit(2.0) * Portable.dot(col("qq"), col("cq"))).cast("long").as("dist"))
    graft.etl.TopK.bottomK(scored, Seq(col("qid")), col("dist"), col("cid"), k)
  }

  private val e12 = Q(
    "e12_ivf_pq_recall",
    (s, d) => {
      val exact = knnExactL2(s, d).select(col("qid"), col("cid"))
      val approx = ivfPqSearch(s, d).select(col("qid"), col("cid"))
      val hits = exact.join(approx, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    },
    Some(s"""
      WITH $ivfPqChainSql,
      ap AS (SELECT qid, cid FROM ivfpq WHERE rnk <= $k),
      ex_scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               CAST(list_dot_product(q.q, q.q) + list_dot_product(c.q, c.q)
                    - 2 * list_dot_product(q.q, c.q) AS BIGINT) AS dist
        FROM fx q CROSS JOIN fx c
        WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                          ORDER BY dist ASC, cid ASC) AS rnk
              FROM ex_scored),
      ex AS (SELECT qid, cid FROM rex WHERE rnk <= $k),
      hits AS (SELECT qid, count(*) AS n_hits
               FROM ex JOIN ap USING (qid, cid) GROUP BY 1)
      SELECT qid, count(*) AS n_exact,
             CAST(coalesce(any_value(n_hits), 0) AS BIGINT) AS n_hits
      FROM ex LEFT JOIN hits USING (qid)
      GROUP BY qid
    """))

  /** The production banding geometry: 4 independent bands of 16
    * avalanche-mixed planes each. Per band ~2^16 effective buckets cut
    * within-bucket candidate volume ~2^8-fold vs an 8-plane single-band
    * scheme, while exact/near dups still collide in some band — the
    * discipline that keeps the e29/e30 candidate join linear-ish at
    * corpus scale (candidates grow linearly in bands, shrink
    * exponentially in planes-per-band). RoundSevenOpsSpec pins the
    * resulting candidate volume at ≈ planted-pairs-only on the doubled
    * corpus.
    */
  private val bandedPlanes: Seq[Seq[Int]] =
    (0 until 4).map(b => (b * 16) until (b * 16 + 16))

  // ---- e14/e15: multi-probe LSH search + its cost/recall audit --------
  //
  // The recall knob the plain bucket join (e02) lacks: instead of
  // widening buckets (fewer planes → quadratic candidate growth), the
  // QUERY probes its own bucket plus every bucket at Hamming distance 1
  // (one plane sign flipped) — numPlanes+1 probes, so candidate volume
  // grows ~(P+1)·|bucket| (linear) while recall gains every neighbor
  // that disagrees on exactly one plane. Probing is still a pure
  // equi-join (probe bucket list exploded on the tiny query side; the
  // corpus side is hashed once and never re-bucketed). Planes are the
  // avalanche-mixed family — the retired round-7 geometry audit showed
  // the legacy family's correlated
  // planes waste buckets.
  //
  // e15 is the e09-discipline audit over BOTH knob settings (radius 0 =
  // plain bucket, radius 1 = multi-probe): per variant, total candidate
  // pairs scored (the cost), exact-top-k hits (the recall numerator) —
  // pure integers, engine-exact. This pair of entries is the tuning
  // loop a deployment runs before choosing probe radius.

  /** Radius-1 scored multi-probe candidates (qid, cid, cos, own) over
    * mixed-family buckets, tagged with whether the matching probe was the
    * query's OWN bucket. The probe buckets of one query are pairwise
    * distinct and a candidate lives in exactly one bucket, so each
    * (qid, cid) row appears once and the radius-0 candidate set is
    * EXACTLY the own = true subset — one artifact serves e14's search
    * and both of e15's audit variants (the radius-0 variant is a filter,
    * not a second pipeline).
    */
  private def multiProbeScored(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "mp_scored") {
      val mixPlanes = 0 until numPlanes
      val emb = normalizedEmb(s, d)
        .withColumn("bkt", bucketOf(mixPlanes, planeVecMix)(col("e")))
      val probeBkts: Seq[Column] = col("bkt") +:
        mixPlanes.map(i => col("bkt").bitwiseXOR(lit(1L << i)))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("en").as("qe"),
          col("bkt").as("qbkt"), explode(array(probeBkts: _*)).as("bkt"))
      val cands = emb.select(col("vec_id").as("cid"), col("en").as("ce"), col("bkt"))
      broadcast(queries).join(cands, Seq("bkt"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("cos"),
          (col("bkt") === col("qbkt")).as("own"))
    }

  /** Multi-probe top-k at radius 1: (qid, cid, rnk, cos) like [[knnLsh]]. */
  private def knnMultiProbe(s: SparkSession, d: String): DataFrame =
    graft.etl.TopK.topK(
      multiProbeScored(s, d).select(col("qid"), col("cid"), col("cos")),
      Seq(col("qid")), col("cos"), col("cid"), k)

  /** DuckDB chain for one probe radius, ending in CTEs
    * `cand_$tag(qid, cid, cos)` / `top_$tag(qid, cid)`.
    */
  private def multiProbeSql(tag: String, radius: Int): String = {
    val probes = "b.bkt" +:
      (if (radius >= 1) (0 until numPlanes).map(i => s"xor(b.bkt, ${1L << i})")
       else Seq())
    s"""
      q_$tag AS (
        SELECT vec_id AS qid, en AS qe, unnest([${probes.mkString(", ")}]) AS bkt
        FROM bmix b WHERE vec_id % 100 = 0),
      cand_$tag AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q_$tag JOIN (SELECT vec_id, en AS ce, bkt FROM bmix) c USING (bkt)
        WHERE qid <> c.vec_id),
      ranked_$tag AS (
        SELECT qid, cid, cos,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid ASC) AS INTEGER) AS rnk
        FROM cand_$tag),
      top_$tag AS (SELECT qid, cid FROM ranked_$tag WHERE rnk <= $k)"""
  }

  private val bmixSql =
    s"bmix AS (SELECT vec_id, en, e, ${bucketSqlOf(0 until numPlanes, planeVecMix, "e")} AS bkt FROM emb)"

  private val e14 = Q(
    "e14_knn_multiprobe",
    (s, d) => knnMultiProbe(s, d)
      .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim")),
    Some(s"""
      WITH $normalizedSql,
      $bmixSql,
      ${multiProbeSql("r1", 1)}
      SELECT qid, cid, rnk, round(cos, 6) AS sim
      FROM ranked_r1 WHERE rnk <= $k
    """))

  private val e15 = Q(
    "e15_multiprobe_audit",
    (s, d) => {
      // both ground truth and the radius-1 candidate table are artifact
      // reads; the radius-0 variant derives from the own-bucket subset
      val exact = knnBrute(s, d).select(col("qid"), col("cid"))
      def variant(tag: String, scored: DataFrame): DataFrame = {
        val top = graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
          .select(col("qid"), col("cid"))
        val nCand = scored.agg(count(lit(1)).as("n_cand"))
        val nHits = exact.join(top, Seq("qid", "cid"))
          .agg(count(lit(1)).as("n_hits"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nCand.crossJoin(nHits).crossJoin(nExact)
          .select(lit(tag).as("variant"), col("n_cand"), col("n_exact"),
            col("n_hits"))
      }
      val all = multiProbeScored(s, d)
      variant("probe0", all.filter(col("own")).select(col("qid"), col("cid"), col("cos")))
        .unionAll(variant("probe1", all.select(col("qid"), col("cid"), col("cos"))))
    },
    Some(s"""
      WITH $normalizedSql,
      $bmixSql,
      ${multiProbeSql("r0", 0)},
      ${multiProbeSql("r1", 1)},
      q AS (SELECT vec_id AS qid, en AS qe FROM emb WHERE vec_id % 100 = 0),
      scored_ex AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, en AS ce FROM emb) c
        WHERE qid <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ex),
      ex AS (SELECT qid, cid FROM rex WHERE rnk <= $k)
      SELECT 'probe0' AS variant,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_r0) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ex JOIN top_r0 USING (qid, cid)) AS n_hits
      UNION ALL
      SELECT 'probe1',
             (SELECT CAST(count(*) AS BIGINT) FROM cand_r1),
             (SELECT CAST(count(*) AS BIGINT) FROM ex),
             (SELECT CAST(count(*) AS BIGINT)
              FROM ex JOIN top_r1 USING (qid, cid))
    """))

  // ---- e16/e17: RESIDUAL IVF-PQ + accuracy audit ----------------------
  //
  // The true FAISS IVFPQ formulation: PQ codes encode the RESIDUAL
  // x − centroid(cell(x)), not the raw vector. On cluster-structured
  // embeddings the coarse layer explains most of the variance, residuals
  // concentrate near zero, and the 16-entry-per-subspace codebook spends
  // its codes where it matters — the classic accuracy win over raw-space
  // codes (e11) at identical index size. The price is a per-(query,
  // probed-cell) LUT (|Q|·ivfProbe·m·16 integer rows, still broadcast)
  // instead of e11's per-query LUT, because the query's residual differs
  // per cell. All math stays exact integer, so every ranking is
  // engine-exact.
  //
  // e17 is the encoder audit — and on THIS corpus it reports the
  // opposite of the FAISS default: raw 42 vs residual 32 hits of 100
  // (sf0.1). Uniform-random vectors are the case where residual
  // encoding HURTS: the coarse layer explains ~no variance, so
  // residuals carry ~2× the per-coordinate variance of the raw vectors
  // and the same-size codebook covers them worse. That is exactly why
  // the audit exists — measure, don't cargo-cult the default; on real
  // clustered embeddings the same audit flips to residual.

  /** e16 core (qid, cid, rnk, dist) — residual-space codes + rerank;
    * artifact-shared (its own entry + the e17 encoder audit).
    */
  private def ivfPqResidualSearch(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "ivfpq_residual")(
      ivfPqResidualSearchBuild(s, d))

  private def ivfPqResidualSearchBuild(s: SparkSession, d: String): DataFrame = {
    val fx = fxVectors(s, d)
    val (cents, members, probes) = ivfLayer(s, d)
    // residuals: each vector minus ITS cell's centroid (exact integers)
    val res = fx.join(members, Seq("vec_id"))
      .join(broadcast(cents), Seq("cent_id"))
      .select(col("vec_id"),
        zip_with(col("q"), col("c"), (a, b) => a - b).as("q"))
    // residual-space PQ: codebook from the first pqK NON-CENTROID
    // residuals (see pqAff's cbookFrom note); ONE pqSubs subtree and ONE
    // codebook definition feed both the codes and the query LUT
    val rsubs = pqSubs(res)
    val rAff = pqAff(rsubs, cbookFrom = nCells)
    val codes = rAff.groupBy(col("vec_id"), col("j"))
      .agg(min_by(col("k"), struct(col("dist"), col("k"))).as("k"))
    val index = codes.join(members, Seq("vec_id"))
    val cbook = pqCodebook(rsubs, cbookFrom = nCells)
    // per-(query, probed cell) LUT: the query's residual wrt THAT cell
    val qres = fx.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("q"))
      .join(broadcast(probes), Seq("qid"))
      .join(broadcast(cents), Seq("cent_id"))
      .select(col("qid"), col("cent_id"),
        zip_with(col("q"), col("c"), (a, b) => a - b).as("rq"))
    val qsubs = qres
      .select(col("qid"), col("cent_id"),
        explode(sequence(lit(0), lit(pqSubspaces - 1))).as("j"), col("rq"))
      .select(col("qid"), col("cent_id"), col("j"),
        slice(col("rq"), col("j") * pqSubDim + 1, lit(pqSubDim)).as("sub"))
    val lut = qsubs.join(broadcast(cbook), Seq("j"))
      .select(col("qid"), col("cent_id"), col("j"), col("k"),
        (Portable.dot(col("sub"), col("sub"))
          + Portable.dot(col("csub"), col("csub"))
          - lit(2.0) * Portable.dot(col("sub"), col("csub")))
          .cast("long").as("dist"))
    val adc = index
      .join(broadcast(lut), Seq("cent_id", "j", "k"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dist")).as("adc_dist"))
      .select(col("qid"), col("vec_id").as("cid"), col("adc_dist"))
    adcRerank(adc, fx)
  }

  /** Residual-space DuckDB chain on top of [[ivfPqChainSql]]'s coarse
    * CTEs, ending in `rivfpq(qid, cid, dist, rnk)`.
    */
  private lazy val residualChainSql = s"""
      rres AS (
        SELECT f.vec_id,
               list_transform(range(1, ${dim + 1}), i -> f.q[i] - c.c[i]) AS rq
        FROM fx f JOIN members m USING (vec_id)
                  JOIN icents c ON c.cent_id = m.cent_id),
      rsubs AS (
        SELECT vec_id, j, list_slice(rq, j*$pqSubDim+1, j*$pqSubDim+$pqSubDim) AS sub
        FROM rres CROSS JOIN (SELECT unnest(range(0, $pqSubspaces)) AS j)),
      rcents AS (
        SELECT j, vec_id - $nCells AS k, sub AS csub
        FROM rsubs WHERE vec_id >= $nCells AND vec_id < ${nCells + pqK}),
      raff AS (
        SELECT s.vec_id, s.j, c.k,
               CAST(list_dot_product(s.sub, s.sub) + list_dot_product(c.csub, c.csub)
                    - 2 * list_dot_product(s.sub, c.csub) AS BIGINT) AS dist
        FROM rsubs s JOIN rcents c ON c.j = s.j),
      rmn AS (SELECT vec_id, j, min(dist) AS md FROM raff GROUP BY 1, 2),
      rcode AS (
        SELECT a.vec_id, a.j, min(a.k) AS k
        FROM raff a JOIN rmn ON rmn.vec_id = a.vec_id AND rmn.j = a.j AND a.dist = rmn.md
        GROUP BY 1, 2),
      ridx AS (SELECT c.vec_id, c.j, c.k, m.cent_id
               FROM rcode c JOIN members m USING (vec_id)),
      qres AS (
        SELECT p.qid, p.cent_id,
               list_transform(range(1, ${dim + 1}), i -> f.q[i] - c.c[i]) AS rq
        FROM probes p JOIN fx f ON f.vec_id = p.qid
                      JOIN icents c ON c.cent_id = p.cent_id),
      qrsubs AS (
        SELECT qid, cent_id, j,
               list_slice(rq, j*$pqSubDim+1, j*$pqSubDim+$pqSubDim) AS sub
        FROM qres CROSS JOIN (SELECT unnest(range(0, $pqSubspaces)) AS j)),
      rlut AS (
        SELECT q.qid, q.cent_id, q.j, c.k,
               CAST(list_dot_product(q.sub, q.sub) + list_dot_product(c.csub, c.csub)
                    - 2 * list_dot_product(q.sub, c.csub) AS BIGINT) AS dist
        FROM qrsubs q JOIN rcents c ON c.j = q.j),
      radc AS (
        SELECT l.qid, i.vec_id AS cid, CAST(sum(l.dist) AS BIGINT) AS adc_dist
        FROM ridx i JOIN rlut l
          ON l.cent_id = i.cent_id AND l.j = i.j AND l.k = i.k
        WHERE l.qid <> i.vec_id
        GROUP BY 1, 2),
      rshort AS (
        SELECT qid, cid FROM (
          SELECT qid, cid, row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, cid ASC) AS srnk
          FROM radc)
        WHERE srnk <= $rerankR),
      rrr AS (
        SELECT s.qid, s.cid,
               CAST(list_dot_product(q.q, q.q) + list_dot_product(c.q, c.q)
                    - 2 * list_dot_product(q.q, c.q) AS BIGINT) AS dist
        FROM rshort s JOIN fx q ON q.vec_id = s.qid
                      JOIN fx c ON c.vec_id = s.cid),
      rivfpq AS (
        SELECT qid, cid, dist,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dist ASC, cid ASC) AS INTEGER) AS rnk
        FROM rrr)"""

  private val e16 = Q(
    "e16_ivf_pq_residual",
    (s, d) => ivfPqResidualSearch(s, d)
      .select(col("qid"), col("cid"), col("rnk"), col("dist")),
    Some(s"""
      WITH $ivfPqChainSql,
      $residualChainSql
      SELECT qid, cid, rnk, dist FROM rivfpq WHERE rnk <= $k
    """))

  private val e17 = Q(
    "e17_pq_encoder_audit",
    (s, d) => {
      // every input is an artifact read: the exact ground truth and both
      // encoders' search results are checkpointed by their own entries
      val exact = knnExactL2(s, d).select(col("qid"), col("cid"))
      def row(tag: String, approx: DataFrame): DataFrame = {
        val hits = exact.join(approx.select(col("qid"), col("cid")),
            Seq("qid", "cid"))
          .agg(count(lit(1)).as("n_hits"))
        exact.agg(count(lit(1)).as("n_exact")).crossJoin(hits)
          .select(lit(tag).as("encoder"), col("n_exact"), col("n_hits"))
      }
      row("raw", ivfPqSearch(s, d))
        .unionAll(row("residual", ivfPqResidualSearch(s, d)))
    },
    Some(s"""
      WITH $ivfPqChainSql,
      $residualChainSql,
      ap_raw AS (SELECT qid, cid FROM ivfpq WHERE rnk <= $k),
      ap_res AS (SELECT qid, cid FROM rivfpq WHERE rnk <= $k),
      ex_scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               CAST(list_dot_product(q.q, q.q) + list_dot_product(c.q, c.q)
                    - 2 * list_dot_product(q.q, c.q) AS BIGINT) AS dist
        FROM fx q CROSS JOIN fx c
        WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                          ORDER BY dist ASC, cid ASC) AS rnk
              FROM ex_scored),
      ex AS (SELECT qid, cid FROM rex WHERE rnk <= $k)
      SELECT 'raw' AS encoder,
             (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ex JOIN ap_raw USING (qid, cid)) AS n_hits
      UNION ALL
      SELECT 'residual',
             (SELECT CAST(count(*) AS BIGINT) FROM ex),
             (SELECT CAST(count(*) AS BIGINT)
              FROM ex JOIN ap_res USING (qid, cid))
    """))

  // ---- e18: Johnson–Lindenstrauss random projection + audit -----------
  //
  // Dimensionality reduction as a first-class ANN lever: project the
  // 64-dim embeddings onto rDim=16 Rademacher (±1) directions from the
  // avalanche-mixed plane family — a 4× cut in vector bytes and in
  // per-pair FLOPs with the JL distance-preservation guarantee
  // (Achlioptas 2003 proves the ±1 form). The audit applies e09's
  // discipline to the reduction: per query, engine-exact hits-of-k of
  // projected-space top-k vs the exact 64-dim top-k, plus the summed
  // |Δcos| over the exact top-k pairs in micro-units (each pair rounded
  // ONCE, BIGINT sums — order-independent) — the distortion JL bounds.
  //
  // Scale shape: the projection is a row-local map (rDim folds per
  // vector, no shuffle); the search here inherits e01's
  // broadcast-queries brute-force shape to isolate the projection's
  // effect. Production composes the PROJECTED vectors with the
  // e04/e11/e14 index plans — independent levers that multiply: 4×
  // cheaper distances inside every cell/bucket probe.

  private val rDim = 16
  private val jlPlanes: Seq[Seq[Double]] =
    (0 until rDim).map(j => planeVecMix(200 + j))

  private def jlProj(v: Column): Column =
    array(jlPlanes.map(pl => Portable.dot(v, planeLit(pl))): _*)

  private def jlProjSql(v: String): String =
    jlPlanes.map(pl => s"list_dot_product($v, ${planeSql(pl)})")
      .mkString("[", ",\n                 ", "]")

  private val e18 = Q(
    "e18_jl_projection",
    (s, d) => {
      val emb = normalizedEmb(s, d)
        .withColumn("p", jlProj(col("e")))
        .withColumn("_pn", Portable.norm(col("p")))
        .withColumn("pn",
          when(col("_pn") =!= 0.0, transform(col("p"), x => x / col("_pn"))))
        .drop("_pn")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("pn").as("qp"))
      val scored = broadcast(queries).crossJoin(
          emb.select(col("vec_id").as("cid"), col("pn").as("cp")))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          Portable.dot(col("qp"), col("cp")).as("cos"))
      val approx = graft.etl.TopK
        .topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
        .select(col("qid"), col("cid"))
      val exact = knnBrute(s, d).select(col("qid"), col("cid"), col("cos"))
      val dist = exact
        .join(emb.select(col("vec_id").as("qid"), col("pn").as("qp")), Seq("qid"))
        .join(emb.select(col("vec_id").as("cid"), col("pn").as("cp")), Seq("cid"))
        .select(col("qid"),
          round(abs(Portable.dot(col("qp"), col("cp")) - col("cos")) * 1e6)
            .cast("long").as("dmicro"))
        .groupBy(col("qid")).agg(sum(col("dmicro")).as("dist_micro"))
      val hits = exact.select(col("qid"), col("cid"))
        .join(approx, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .join(dist, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("dist_micro"))
    },
    Some(s"""
      WITH $normalizedSql,
      pemb AS (
        SELECT vec_id, en,
               CASE WHEN list_dot_product(p, p) > 0
                    THEN list_transform(p, x -> x / sqrt(list_dot_product(p, p)))
                    ELSE NULL END AS pn
        FROM (SELECT vec_id, en, ${jlProjSql("e")} AS p FROM emb)),
      q AS (SELECT vec_id AS qid, en AS qe, pn AS qp
            FROM pemb WHERE vec_id % 100 = 0),
      scored_ex AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, en AS ce FROM pemb) c
        WHERE qid <> c.vec_id),
      rex AS (SELECT qid, cid, cos,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ex),
      ex AS (SELECT qid, cid, cos FROM rex WHERE rnk <= $k),
      scored_ap AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qp, cp) AS cos
        FROM q CROSS JOIN (SELECT vec_id, pn AS cp FROM pemb) c
        WHERE qid <> c.vec_id),
      rap AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ap),
      ap AS (SELECT qid, cid FROM rap WHERE rnk <= $k),
      hits AS (SELECT qid, count(*) AS n_hits
               FROM ex JOIN ap USING (qid, cid) GROUP BY 1),
      dist AS (
        SELECT e2.qid,
               CAST(sum(CAST(round(abs(list_dot_product(pq.pn, pc.pn) - e2.cos)
                                   * 1e6) AS BIGINT)) AS BIGINT) AS dist_micro
        FROM ex e2
          JOIN pemb pq ON pq.vec_id = e2.qid
          JOIN pemb pc ON pc.vec_id = e2.cid
        GROUP BY 1)
      SELECT ex.qid, count(*) AS n_exact,
             CAST(coalesce(any_value(h.n_hits), 0) AS BIGINT) AS n_hits,
             any_value(ds.dist_micro) AS dist_micro
      FROM ex LEFT JOIN hits h USING (qid) LEFT JOIN dist ds USING (qid)
      GROUP BY ex.qid
    """))

  // ---- e19: persisted IVF index lifecycle (build → append → probe) ----
  //
  // t34 gave the LSH band table the "index as a table" contract; this
  // is the same lifecycle for the VECTOR index — the production shape
  // where the coarse quantizer is trained once and FROZEN, and every
  // ingest appends its assignments without touching the existing
  // postings (the standard IVF ingest rule: re-training centroids would
  // invalidate the whole inverted file). Artifact layout:
  //
  //   <path>/cents    (cent_id, cen)        — frozen coarse quantizer
  //   <path>/members  (cid, ce, cent_id)    — inverted file, APPEND per ingest
  //
  // Build draws centroids from the BUILD corpus only (vec_id % 10 ≠ 0)
  // and assigns it; the batch ingest (vec_id % 10 = 0) assigns against
  // the frozen cents and appends. The probe is e04's search plan
  // reading the artifact: probe-side broadcast, corpus postings never
  // shuffled. The oracle recomputes the same frozen-quantizer search
  // from scratch — hash equality proves append ≡ whole-corpus build.

  private val e19Lock = new Object

  def e19IndexPath(s: SparkSession, d: String): String = {
    val path = graft.WorkDir.path("ivfindex", d)
    val marker = new java.io.File(path + "_READY")
    e19Lock.synchronized {
      if (!marker.exists()) {
        graft.WorkDir.delete(path)
        val emb = normalizedEmb(s, d)
        val cents = emb.filter(col("vec_id") % 10 =!= 0)
          .filter(col("vec_id") < nCells)
          .select(col("vec_id").as("cent_id"), col("en").as("cen"))
        cents.write.mode("overwrite").parquet(path + "/cents")
        def assign(part: DataFrame): DataFrame = {
          val aff = part.crossJoin(broadcast(cents))
            .select(col("vec_id"), col("en"), col("cent_id"),
              Portable.dot(col("en"), col("cen")).as("cd"))
          val ord = struct(col("cd"), (-col("cent_id")).as("_nc"))
          aff.groupBy(col("vec_id"))
            .agg(max_by(struct(col("cent_id"), col("en")), ord).as("b"))
            .select(col("vec_id").as("cid"), col("b.en").as("ce"),
              col("b.cent_id").as("cent_id"))
        }
        // build (the existing corpus), then APPEND (the new ingest)
        assign(emb.filter(col("vec_id") % 10 =!= 0))
          .write.mode("overwrite").parquet(path + "/members")
        assign(emb.filter(col("vec_id") % 10 === 0))
          .write.mode("append").parquet(path + "/members")
        marker.createNewFile()
      }
    }
    path
  }

  private val e19 = Q(
    "e19_persisted_ivf_index",
    (s, d) => {
      val path = e19IndexPath(s, d)
      val cents = s.read.parquet(path + "/cents")
      val members = s.read.parquet(path + "/members")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cd").desc, col("cent_id").asc)
      val probes = normalizedEmb(s, d).filter(col("vec_id") % 100 === 0)
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("en"), col("cent_id"),
          Portable.dot(col("en"), col("cen")).as("cd"))
        .withColumn("crnk", row_number().over(w))
        .filter(col("crnk") <= nProbe)
        .select(col("vec_id").as("qid"), col("en").as("qe"), col("cent_id"))
      val scored = broadcast(probes).join(members, Seq("cent_id"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("cos"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
        .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim"))
    },
    Some(s"""
      WITH $normalizedSql,
      cents AS (SELECT vec_id AS cent_id, en AS cen FROM emb
                WHERE vec_id % 10 <> 0 AND vec_id < $nCells),
      affinity AS (
        SELECT e.vec_id, e.en, c.cent_id, list_dot_product(e.en, c.cen) AS cd
        FROM emb e CROSS JOIN cents c),
      mx AS (SELECT vec_id, max(cd) AS mcd FROM affinity GROUP BY vec_id),
      members AS (
        SELECT a.vec_id AS cid,
               arg_min(a.en, a.cent_id) AS ce,
               min(a.cent_id) AS cent_id
        FROM affinity a JOIN mx ON mx.vec_id = a.vec_id AND a.cd = mx.mcd
        GROUP BY a.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cd DESC, cent_id ASC) AS crnk
        FROM affinity WHERE vec_id % 100 = 0),
      probes AS (SELECT vec_id AS qid, en AS qe, cent_id
                 FROM ranked WHERE crnk <= $nProbe),
      scored AS (
        SELECT qid, cid, list_dot_product(qe, ce) AS cos
        FROM probes JOIN members USING (cent_id)
        WHERE qid <> cid),
      ${OracleSql.knnTailSql(k)}
    """))

  // ---- e20: SQ8 symmetric integer-dot search --------------------------
  //
  // The memory-bandwidth play that precedes any indexing decision:
  // search directly over the e05 uint8 codes with INTEGER dot products
  // — 4× less data moved per candidate than float vectors, and the
  // arithmetic every SIMD unit does fastest. Products are ≤ 255²·64 ≈
  // 4.2M per pair, so BIGINT scores are exact and the ranking is
  // engine-exact with no float tolerance anywhere (contrast e01's
  // double fold: correct but bandwidth-bound at 100 TB). Symmetric
  // code-vs-code ranking approximates the true inner product modulo the
  // per-vector affine terms — the e17-style caveat: measure (e09
  // discipline vs e01) before shipping, rerank the shortlist with
  // exact floats like e11 when it matters.
  //
  // Scale shape: e01's broadcast-queries plan over a corpus that is 4×
  // smaller on the wire; composes with IVF (probe cells, then integer
  // dots inside) exactly like e10's LUT kernel.

  private val e20 = Q(
    "e20_sq8_search",
    (s, d) => {
      val codes = sq8(s, d).select(col("vec_id"), col("qv"))
      val queries = codes.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("qv").as("qa"))
      val scored = broadcast(queries).crossJoin(
          codes.select(col("vec_id").as("cid"), col("qv").as("qb")))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          aggregate(zip_with(col("qa"), col("qb"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("iscore"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("iscore"), col("cid"), k)
        .select(col("qid"), col("cid"), col("rnk"), col("iscore"))
    },
    Some(s"""
      WITH $sq8Sql,
      qs AS (SELECT vec_id AS qid, qv AS qa FROM q WHERE vec_id % 100 = 0),
      scored AS (
        SELECT qid, c.vec_id AS cid,
               CAST(list_dot_product(
                 list_transform(qa, x -> CAST(x AS DOUBLE)),
                 list_transform(c.qv, x -> CAST(x AS DOUBLE))) AS BIGINT)
                 AS iscore
        FROM qs CROSS JOIN q c
        WHERE qid <> c.vec_id),
      r AS (SELECT qid, cid, iscore,
                   CAST(row_number() OVER (PARTITION BY qid
                                           ORDER BY iscore DESC, cid ASC)
                        AS INTEGER) AS rnk
            FROM scored)
      SELECT qid, cid, rnk, iscore FROM r WHERE rnk <= $k
    """))

  // ---- e21: binary sign quantization + Hamming prefilter search -------
  //
  // The most aggressive quantization on the memory-bandwidth axis e20
  // started down: 1 bit per dimension (sign of each coordinate), so a
  // 64-dim float vector becomes 8 BYTES — 32× less data than floats,
  // 4× less than SQ8. Hamming distance between sign patterns is a
  // monotone proxy for angular distance (random-projection theory: the
  // probability two vectors disagree on a random hyperplane's side is
  // θ/π), so rank-by-Hamming is a cheap recall stage whose shortlist an
  // exact cosine rerank then orders correctly — same two-stage contract
  // as e11 (coarse candidates → exact scoring), at the opposite extreme
  // of the compression/recall trade.
  //
  // Scale shape: the full-corpus pass touches only (vec_id, two
  // 32-bit-half signatures) — at 10⁹ vectors that is ~24 GB, streamable
  // through any executor fleet; XOR+popcount is the cheapest distance
  // any hardware computes. The float vectors are touched only for the
  // |Q|×C shortlist (a broadcast-sized set), never corpus-wide. The
  // signatures are packed as TWO 32-bit halves (not one 64-bit word):
  // bit 63 via `1L << 63` would overflow DuckDB's checked BIGINT
  // arithmetic in the oracle, and two bit_count(xor(...)) terms cost
  // the same as one.
  //
  // Signs come from the RAW coordinates (sign is invariant under the
  // positive per-vector norm scale, so raw avoids the zero-norm null
  // special case until the rerank, where the e01 null contract applies).

  private val hamShortlist = 50

  /** Bits h*32 .. h*32+31 of the sign pattern, packed little-endian into
    * one non-negative long (bit j set iff e[h*32+j] > 0).
    */
  private def signHalf(e: Column, h: Int): Column =
    (0 until 32).map { j =>
      when(element_at(e, h * 32 + j + 1) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def signHalfSql(e: String, h: Int): String =
    (0 until 32).map { j =>
      s"CASE WHEN $e[${h * 32 + j + 1}] > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** e21 core (qid, cid, rnk, cos) — artifact-shared with the e22
    * recall audit.
    */
  private def binarySearch(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "binary_search")(binarySearchBuild(s, d))

  private def binarySearchBuild(s: SparkSession, d: String): DataFrame = {
    val emb = normalizedEmb(s, d)
    // corpus-wide pass carries ONLY the 16-byte signatures
    val sigs = emb.select(col("vec_id"),
      signHalf(col("e"), 0).as("s0"), signHalf(col("e"), 1).as("s1"))
    val qs = sigs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("s0").as("q0"), col("s1").as("q1"))
    val ham = broadcast(qs)
      .crossJoin(sigs.select(col("vec_id").as("cid"),
        col("s0").as("c0"), col("s1").as("c1")))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (bit_count(col("q0").bitwiseXOR(col("c0"))) +
          bit_count(col("q1").bitwiseXOR(col("c1")))).as("ham"))
    val shortlist = graft.etl.TopK
      .perGroup(ham, Seq(col("qid")), Seq(col("ham").asc, col("cid").asc),
        hamShortlist, "hrnk")
      .select(col("qid"), col("cid"))
    // floats only for the |Q|×C shortlist: broadcast it against the corpus
    val withC = broadcast(shortlist)
      .join(emb.select(col("vec_id").as("cid"), col("en").as("ce")), "cid")
    val scored = withC
      .join(broadcast(emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("en").as("qe"))), "qid")
      .select(col("qid"), col("cid"), Portable.dot(col("qe"), col("ce")).as("cos"))
    graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
  }

  /** Shared DuckDB chain: signature pack → Hamming shortlist → exact
    * rerank, mirroring [[binarySearch]] stage for stage.
    */
  private val binarySql = s"""
      sig AS (SELECT vec_id, ${signHalfSql("e", 0)} AS s0,
                     ${signHalfSql("e", 1)} AS s1 FROM raw),
      bq AS (SELECT vec_id AS qid, s0 AS q0, s1 AS q1 FROM sig
             WHERE vec_id % 100 = 0),
      hams AS (
        SELECT qid, c.vec_id AS cid,
               bit_count(xor(q0, c.s0)) + bit_count(xor(q1, c.s1)) AS ham
        FROM bq CROSS JOIN sig c WHERE qid <> c.vec_id),
      short AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY ham ASC, cid ASC) AS hrnk
          FROM hams)
        WHERE hrnk <= $hamShortlist),
      scored AS (
        SELECT s.qid, s.cid, list_dot_product(q.en, c.en) AS cos
        FROM short s
        JOIN emb q ON q.vec_id = s.qid
        JOIN emb c ON c.vec_id = s.cid)"""

  private val e21 = Q(
    "e21_binary_sign_search",
    (s, d) => binarySearch(s, d)
      .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim")),
    Some(s"""
      WITH $normalizedSql,
      $binarySql,
      ${OracleSql.knnTailSql(k)}
    """))

  // ---- e22: binary-search recall audit (vs exact) ---------------------
  //
  // e09's discipline applied to the 1-bit index: recall@k of e21 against
  // the exact e01 top-k, per query — the number that decides whether
  // 8 bytes/vector is enough signal for this corpus or the shortlist
  // constant C must grow (the only knob: recall rises monotonically in
  // C, cost is C exact dots per query). Pure integer output.

  private val e22 = Q(
    "e22_binary_recall",
    (s, d) => {
      val exact = knnBrute(s, d).select(col("qid"), col("cid"))
      val approx = binarySearch(s, d).select(col("qid"), col("cid"))
      val hits = exact.join(approx, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    },
    Some(s"""
      WITH $normalizedSql,
      q AS (SELECT vec_id AS qid, en AS qe FROM emb WHERE vec_id % 100 = 0),
      scored_ex AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, en AS ce FROM emb) c
        WHERE qid <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ex),
      ex AS (SELECT qid, cid FROM rex WHERE rnk <= $k),
      $binarySql,
      rap AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored),
      ap AS (SELECT qid, cid FROM rap WHERE rnk <= $k),
      hits AS (SELECT ex.qid, count(*) AS n_hits
               FROM ex JOIN ap ON ex.qid = ap.qid AND ex.cid = ap.cid
               GROUP BY ex.qid)
      SELECT ex.qid, count(*) AS n_exact,
             coalesce(max(hits.n_hits), 0) AS n_hits
      FROM ex LEFT JOIN hits ON hits.qid = ex.qid
      GROUP BY ex.qid
    """))

  // ---- e23: filtered vector search (predicate + top-k) ----------------
  //
  // Production vector search is almost never unfiltered: "nearest
  // neighbors WHERE tenant/category/split = X" is the real query, and
  // the correctness rule it forces is PRE-filtering — push the
  // predicate INTO candidate generation. The tempting alternative
  // (post-filter an unfiltered top-k) silently under-fills k whenever
  // the predicate's matches aren't already in the unfiltered top-k —
  // a wrong-results bug, not a performance choice.
  //
  // Here each query searches only its own label partition via an
  // EQUI-join on label (queries broadcast): candidate volume drops by
  // the label cardinality vs e01's cross join, and the plan stays a
  // hash join (no cartesian). At 100 TB the same predicate composes
  // with the index instead: label becomes a partition column of the
  // e19 IVF artifact (probe reads one label's postings) or a prefix of
  // the LSH bucket key — selective predicates flip to brute-forcing
  // the survivors, which is exactly this plan.

  private val e23 = Q(
    "e23_filtered_knn",
    (s, d) => {
      val emb = normalizedEmb(s, d)
      val qs = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("label"), col("en").as("qe"))
      val cand = emb.select(col("vec_id").as("cid"), col("label"),
        col("en").as("ce"))
      val scored = broadcast(qs).join(cand, Seq("label"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("label"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("cos"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
        .select(col("qid"), col("label"), col("cid"), col("rnk"),
          round(col("cos"), 6).as("sim"))
    },
    Some(s"""
      WITH $normalizedSql,
      q AS (SELECT vec_id AS qid, label, en AS qe FROM emb
            WHERE vec_id % 100 = 0),
      scored AS (
        SELECT qid, q.label, c.vec_id AS cid,
               list_dot_product(qe, c.en) AS cos
        FROM q JOIN emb c ON c.label = q.label AND c.vec_id <> q.qid),
      r AS (SELECT qid, label, cid, cos,
                   CAST(row_number() OVER (PARTITION BY qid
                                           ORDER BY cos DESC, cid ASC)
                        AS INTEGER) AS rnk
            FROM scored)
      SELECT qid, label, cid, rnk, round(cos, 6) AS sim
      FROM r WHERE rnk <= $k
    """))

  // ---- e24: tombstone-aware probe of the persisted IVF index ----------
  //
  // The delete half of the e19 lifecycle: vectors leave a corpus
  // (takedowns, dedup rewrites, retention policy) far more often than an
  // inverted file can afford a rebuild, so production indexes carry a
  // TOMBSTONE set and probes exclude it at read time. The tombstone
  // table is deletion-sized — a broadcast anti-join on the posting id,
  // applied BEFORE scoring (scoring then discarding deleted candidates
  // wastes the dominant cost, and worse, under-fills k the way e23's
  // post-filter bug would). Postings stay append-only; a compaction
  // rewrite is only worth it when the tombstone fraction materially
  // inflates probe cost. The oracle recomputes the search with the
  // deleted ids excluded by predicate — hash equality proves
  // tombstone-masking ≡ physical deletion.

  private val e24 = Q(
    "e24_ivf_tombstone_search",
    (s, d) => {
      val path = e19IndexPath(s, d)
      val cents = s.read.parquet(path + "/cents")
      val members = s.read.parquet(path + "/members")
      val tomb = normalizedEmb(s, d)
        .filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("cid"))
      val live = members.join(broadcast(tomb), Seq("cid"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cd").desc, col("cent_id").asc)
      val probes = normalizedEmb(s, d).filter(col("vec_id") % 100 === 0)
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("en"), col("cent_id"),
          Portable.dot(col("en"), col("cen")).as("cd"))
        .withColumn("crnk", row_number().over(w))
        .filter(col("crnk") <= nProbe)
        .select(col("vec_id").as("qid"), col("en").as("qe"), col("cent_id"))
      val scored = broadcast(probes).join(live, Seq("cent_id"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("cos"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
        .select(col("qid"), col("cid"), col("rnk"), round(col("cos"), 6).as("sim"))
    },
    Some(s"""
      WITH $normalizedSql,
      cents AS (SELECT vec_id AS cent_id, en AS cen FROM emb
                WHERE vec_id % 10 <> 0 AND vec_id < $nCells),
      affinity AS (
        SELECT e.vec_id, e.en, c.cent_id, list_dot_product(e.en, c.cen) AS cd
        FROM emb e CROSS JOIN cents c),
      mx AS (SELECT vec_id, max(cd) AS mcd FROM affinity GROUP BY vec_id),
      members AS (
        SELECT a.vec_id AS cid,
               arg_min(a.en, a.cent_id) AS ce,
               min(a.cent_id) AS cent_id
        FROM affinity a JOIN mx ON mx.vec_id = a.vec_id AND a.cd = mx.mcd
        GROUP BY a.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cd DESC, cent_id ASC) AS crnk
        FROM affinity WHERE vec_id % 100 = 0),
      probes AS (SELECT vec_id AS qid, en AS qe, cent_id
                 FROM ranked WHERE crnk <= $nProbe),
      scored AS (
        SELECT qid, cid, list_dot_product(qe, ce) AS cos
        FROM probes JOIN members USING (cent_id)
        WHERE qid <> cid AND cid % 7 <> 3),
      ${OracleSql.knnTailSql(k)}
    """))

  // ---- e25: IVF recall-vs-nProbe tuning sweep -------------------------
  //
  // The missing member of the audit family: e15 sweeps the LSH probe knob,
  // e09/e12 measure one fixed geometry — this sweeps nProbe ∈ {1,2,4}
  // over the IVF flat index and reports aggregate recall@k per setting,
  // the curve an operator reads to pick the probe budget BEFORE trusting
  // the index (recall rises with probes, cost rises linearly — the knee
  // is the setting you ship). One affinity relation feeds every sweep
  // point (cells, members, and probe rankings are computed once); each
  // point differs only in the crnk filter, and a (qid,cid) pair can
  // never double-count because a candidate lives in exactly ONE cell.
  // Recall is integer per-mille — engine-exact, no float tolerance.

  private val sweepProbes = Seq(1, 2, 4)

  private val e25 = Q(
    "e25_ivf_nprobe_sweep",
    (s, d) => {
      // cell assignment, ranked probes, and the exact ground truth are
      // all artifact reads shared with e11/e12/e16/e17; each sweep point
      // slices the same ranked-probe table at its crnk
      val fx = fxVectors(s, d)
      val ranked = ivfProbesRanked(s, d)
        .join(fx.select(col("vec_id").as("qid"), col("q").as("qq")), Seq("qid"))
      val corpus = fx.select(col("vec_id").as("cid"), col("q").as("cq"))
        .join(ivfMembers(s, d).withColumnRenamed("vec_id", "cid"), Seq("cid"))
      val exact = knnExactL2(s, d).select(col("qid"), col("cid"))
      val exactTot = exact.agg(count(lit(1)).as("n_exact"))
      val perP = sweepProbes.map { p =>
        val probes = ranked.filter(col("crnk") <= p)
          .select(col("qid"), col("qq"), col("cent_id"))
        val scored = broadcast(probes).join(corpus, Seq("cent_id"))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            (Portable.dot(col("qq"), col("qq")) + Portable.dot(col("cq"), col("cq"))
              - lit(2.0) * Portable.dot(col("qq"), col("cq"))).cast("long").as("dist"))
        graft.etl.TopK.bottomK(scored, Seq(col("qid")), col("dist"), col("cid"), k)
          .select(col("qid"), col("cid"))
          .join(exact, Seq("qid", "cid"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(p.toLong).as("nprobe"), col("n_hits"))
      }.reduce(_ unionAll _)
      perP.crossJoin(broadcast(exactTot))
        .select(col("nprobe"), col("n_hits"), col("n_exact"),
          expr("n_hits * 1000 div n_exact").as("recall_pm"))
    },
    Some {
      def l2(a: String, b: String) =
        s"""CAST(list_dot_product($a, $a) + list_dot_product($b, $b)
                 - 2 * list_dot_product($a, $b) AS BIGINT)"""
      val perP = sweepProbes.map { p =>
        s"""
        sc$p AS (
          SELECT r.vec_id AS qid, m.vec_id AS cid, ${l2("q.q", "c.q")} AS dist
          FROM iranked r JOIN members m USING (cent_id)
               JOIN fx q ON q.vec_id = r.vec_id
               JOIN fx c ON c.vec_id = m.vec_id
          WHERE r.crnk <= $p AND r.vec_id <> m.vec_id),
        tk$p AS (SELECT qid, cid FROM (
                   SELECT qid, cid, row_number() OVER (PARTITION BY qid
                        ORDER BY dist ASC, cid ASC) AS rnk
                   FROM sc$p) WHERE rnk <= $k),
        h$p AS (SELECT CAST($p AS BIGINT) AS nprobe,
                       CAST(count(*) AS BIGINT) AS n_hits
                FROM tk$p JOIN ex USING (qid, cid))"""
      }.mkString(",")
      val unionAllP = sweepProbes.map(p => s"SELECT * FROM h$p")
        .mkString(" UNION ALL ")
      s"""
      WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      fx AS (SELECT vec_id, list_transform(e, x -> round(x * $fxScale)) AS q FROM raw),
      icents AS (SELECT vec_id AS cent_id, q AS c FROM fx WHERE vec_id < $nCells),
      iaff AS (
        SELECT f.vec_id, c.cent_id, ${l2("f.q", "c.c")} AS dist
        FROM fx f CROSS JOIN icents c),
      imn AS (SELECT vec_id, min(dist) AS md FROM iaff GROUP BY 1),
      members AS (
        SELECT a.vec_id, min(a.cent_id) AS cent_id
        FROM iaff a JOIN imn ON imn.vec_id = a.vec_id AND a.dist = imn.md
        GROUP BY 1),
      iranked AS (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist ASC, cent_id ASC) AS crnk
        FROM iaff WHERE vec_id % 100 = 0),
      ex_scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid, ${l2("q.q", "c.q")} AS dist
        FROM fx q CROSS JOIN fx c
        WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                          ORDER BY dist ASC, cid ASC) AS rnk
              FROM ex_scored),
      ex AS (SELECT qid, cid FROM rex WHERE rnk <= $k),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
      $perP
      SELECT nprobe, n_hits, n_exact, n_hits * 1000 // n_exact AS recall_pm
      FROM ($unionAllP) CROSS JOIN tot
      """
    })

  // ---- e26: max-inner-product search via norm augmentation (ALSH) ----
  //
  // Retrieval scoring is often raw INNER PRODUCT (recommender factors,
  // un-normalized contrastive embeddings) — not cosine — and none of
  // the angular machinery above applies directly because inner product
  // favors long vectors, not close directions. The standard reduction
  // (Neyshabur & Srebro's asymmetric transform) restores it: corpus
  // x -> [x; sqrt(M^2 - |x|^2)] (M = max corpus norm, so every
  // augmented vector has length exactly M), query q -> [q; 0]; then
  // <[q;0], [x;a]> = <q,x> while all corpus vectors sit on one sphere —
  // angular order for a fixed query IS inner-product order, and every
  // sign-hyperplane trick from e02..e22 applies verbatim on the
  // augmented space. The asymmetry lives in the signature computation:
  // the corpus hashes 65-dim augmented vectors, the query hashes with
  // the SAME planes truncated to 64 coords (equivalent to [q;0] against
  // the full plane — the augmented coordinate contributes 0).
  //
  // Candidate generation is the e21 Hamming-shortlist shape, NOT a
  // single-bucket equi-join: ALSH angles are intrinsically large (the
  // query's augmented coordinate is 0 while the corpus's is a real
  // fraction of M), so all-planes-agree bucketing collapses to ~zero
  // recall — the e28 audit measured exactly that on an earlier
  // geometry. Ranking by 64-plane sign agreement instead recovers it
  // while still touching only (vec_id, two packed signature longs) on
  // the corpus-wide pass; exact <q,x> rerank touches the |Q|×C
  // shortlist. M^2 is one scalar agg broadcast back; signatures are one
  // map pass; e28 is the recall gate that tunes plane count/shortlist
  // (measured on this corpus: 32 planes/C=50 → 6/25, 64/50 → 12/25,
  // 64/100 → 15/25 — the expected ALSH profile on isotropic data, where
  // the augmentation compresses all angles into a narrow band and the
  // sketch has to separate them; real retrieval corpora are clustered,
  // which widens the gaps the sketch ranks on).

  private val mipsPlanes = 64
  private val mipsShortlist = 100

  private val dimA = dim + 1

  /** Avalanche-mixed ±1 planes over the 65-dim AUGMENTED space (stride
    * dimA, so the family is independent of [[planeVecMix]]'s).
    */
  private def planeVecAug(p: Int): Seq[Double] =
    (0 until dimA).map { i =>
      var z = (p * dimA + i).toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if (((z >>> 33) & 1L) == 0L) 1.0 else -1.0
    }

  /** e26's operator body (qid, cid, ip, rnk) — shared with the e28
    * recall audit.
    */
  /** Half `h` (32 bits) of the 64-plane augmented sign signature, packed
    * into one non-negative long (bit j set iff dot(v, augPlane_{32h+j})
    * > 0; two halves for the same reason as e21 — `1L << 63` would
    * overflow DuckDB's checked BIGINT). `fam` lets the query side use
    * the truncated planes (asymmetric hashing).
    */
  private def mipsSig(fam: Int => Seq[Double], h: Int)(v: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // native SignPack: the declarative 32-term sum-of-whens is
    // semantically identical (SignPackSpec pins the equality) but
    // inlines the whole plane matrix into the generated code —
    // multi-second Janino compiles per projection
    ColumnBridge.column(graft.functions.SignPack(
      ColumnBridge.expression(v.cast("array<double>")),
      (0 until 32).map(j => fam(32 * h + j))))
  }

  /** Declarative formulation of [[mipsSig]] (the executable spec
    * SignPack is tested against — SignPackSpec).
    */
  def mipsSigDecl(fam: Int => Seq[Double], h: Int)(v: Column): Column =
    (0 until 32).map { j =>
      when(Portable.dot(v, planeLit(fam(32 * h + j))) > 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Test access to the augmented plane family (SignPackSpec). */
  def augPlaneFamily(p: Int): Seq[Double] = planeVecAug(p)

  private def mipsSigSql(fam: Int => Seq[Double], h: Int, v: String): String =
    (0 until 32).map { j =>
      s"CASE WHEN list_dot_product($v, ${planeSql(fam(32 * h + j))}) > 0.0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Cached as a per-(dataset, process) artifact: the search result
    * feeds both e26 (its own output) and e28 (the recall audit) — the
    * same checkpoint contract as the text-dedup pair tables.
    */
  private def mipsRanked(s: SparkSession, d: String): DataFrame =
    graft.etl.Artifacts.shared(s, d, "mips")(mipsRankedBuild(s, d))

  private def mipsRankedBuild(s: SparkSession, d: String): DataFrame = {
      val emb = Tables.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val withN2 = emb.withColumn("n2", Portable.dot(col("e"), col("e")))
      val m2 = withN2.agg(max(col("n2")).as("m2"))
      val aug = withN2.crossJoin(broadcast(m2))
        .select(col("vec_id"), col("e"),
          concat(col("e"), array(sqrt(col("m2") - col("n2")))).as("ea"))
      // corpus-wide pass carries ONLY (cid, two packed signature longs).
      // persist BOTH the augmented frame and the signatures: without a
      // materialization boundary Catalyst's CollapseProject inlines the
      // 65-element concat/sqrt into all 64 plane dots (65x the concat
      // work), and the signature table feeds the Hamming join twice
      val augP = aug.persist()
      val qtrunc = (p: Int) => planeVecAug(p).take(dim)
      val sigs = augP.select(col("vec_id").as("cid"),
        mipsSig(planeVecAug, 0)(col("ea")).as("c0"),
        mipsSig(planeVecAug, 1)(col("ea")).as("c1")).persist()
      val qs = augP.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"),
          mipsSig(qtrunc, 0)(col("e")).as("q0"),
          mipsSig(qtrunc, 1)(col("e")).as("q1"))
      val ham = broadcast(qs).crossJoin(sigs)
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          (bit_count(col("q0").bitwiseXOR(col("c0"))) +
            bit_count(col("q1").bitwiseXOR(col("c1")))).as("ham"))
      val shortlist = graft.etl.TopK
        .perGroup(ham, Seq(col("qid")), Seq(col("ham").asc, col("cid").asc),
          mipsShortlist, "hrnk")
        .select(col("qid"), col("cid"))
      val withC = broadcast(shortlist)
        .join(emb.select(col("vec_id").as("cid"), col("e").as("ce")), "cid")
      val scored = withC
        .join(broadcast(emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("e").as("qe"))), "qid")
        .select(col("qid"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("ip"))
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("ip"), col("cid"), k)
  }

  /** e26's CTE chain through ranked `rk`; also used by e28. */
  private lazy val mipsCtes: String = s"""
      raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      wn AS (SELECT vec_id, e, list_dot_product(e, e) AS n2 FROM raw),
      m AS (SELECT max(n2) AS m2 FROM wn),
      aug AS (SELECT vec_id, e,
                     list_concat(e, [sqrt(m.m2 - n2)]) AS ea
              FROM wn, m),
      sigs AS (SELECT vec_id AS cid,
                      ${mipsSigSql(planeVecAug, 0, "ea")} AS c0,
                      ${mipsSigSql(planeVecAug, 1, "ea")} AS c1
               FROM aug),
      mq AS (SELECT vec_id AS qid,
                    ${mipsSigSql(p => planeVecAug(p).take(dim), 0, "e")} AS q0,
                    ${mipsSigSql(p => planeVecAug(p).take(dim), 1, "e")} AS q1
             FROM aug WHERE vec_id % 100 = 0),
      hams AS (SELECT qid, cid,
                      bit_count(xor(q0, c0)) + bit_count(xor(q1, c1)) AS ham
               FROM mq CROSS JOIN sigs WHERE qid <> cid),
      short AS (SELECT qid, cid FROM (
                  SELECT qid, cid,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY ham ASC, cid ASC) AS hrnk
                  FROM hams)
                WHERE hrnk <= $mipsShortlist),
      scored AS (
        SELECT s.qid, s.cid, list_dot_product(q.e, c.e) AS ip
        FROM short s
          JOIN raw c ON c.vec_id = s.cid
          JOIN raw q ON q.vec_id = s.qid),
      rk AS (SELECT qid, cid, ip,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY ip DESC, cid ASC) AS rnk
             FROM scored)"""

  private val e26 = Q(
    "e26_mips_search",
    (s, d) => mipsRanked(s, d),
    Some(s"WITH $mipsCtes SELECT qid, cid, ip, rnk FROM rk WHERE rnk <= $k"))

  // ---- e28: MIPS recall audit (augmented-LSH vs exact inner product) --
  //
  // e26's quality gate, closing the audit discipline (every approximate
  // path ships with its recall audit: e09/e12/e15/e17/e22/e25): exact
  // inner-product top-k by brute force over the broadcast query subset,
  // joined against e26's bucketed result — integer hits of k per query,
  // engine-exact. This is the number that decides whether the 8-plane
  // augmented geometry suffices or needs the e14/e29 banding treatment
  // (which carries over to the augmented space unchanged).

  private val e28 = Q(
    "e28_mips_recall",
    (s, d) => {
      val emb = Tables.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val qs = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val scored = broadcast(qs)
        .crossJoin(emb.select(col("vec_id").as("cid"), col("e").as("ce")))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("ip"))
      val exact = graft.etl.TopK
        .topK(scored, Seq(col("qid")), col("ip"), col("cid"), k)
        .select(col("qid"), col("cid"))
      val approx = mipsRanked(s, d).select(col("qid"), col("cid"))
      val hits = exact.join(approx, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    },
    Some(s"""
      WITH $mipsCtes,
      ex_scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid, list_dot_product(q.e, c.e) AS ip
        FROM (SELECT vec_id, e FROM raw WHERE vec_id % 100 = 0) q
        CROSS JOIN raw c
        WHERE q.vec_id <> c.vec_id),
      ex_r AS (SELECT qid, cid,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY ip DESC, cid ASC) AS rnk
               FROM ex_scored),
      ex AS (SELECT qid, cid FROM ex_r WHERE rnk <= $k),
      ap AS (SELECT qid, cid FROM rk WHERE rnk <= $k),
      hits AS (SELECT qid, count(*) AS n_hits
               FROM ex JOIN ap USING (qid, cid) GROUP BY 1)
      SELECT qid, count(*) AS n_exact,
             CAST(coalesce(any_value(n_hits), 0) AS BIGINT) AS n_hits
      FROM ex LEFT JOIN hits USING (qid)
      GROUP BY qid
    """))

  // ---- e27: cell-balanced diversity sampling ---------------------------
  //
  // Down-sampling an embedding corpus UNIFORMLY keeps the density of the
  // original distribution — dense regions (boilerplate clusters, dominant
  // modes) dominate the sample. The diversity-aware alternative (the
  // selection step SemDeDup-style pipelines run after dedup): partition
  // the space by the IVF coarse quantizer (e04's cells — same centroids,
  // same argmax assignment) and take a per-cell quota, so every region
  // contributes equally regardless of its population. Within a cell the
  // pick is a deterministic pseudo-random rank (portable hash of the
  // vec_id — unbiased, reproducible, engine-agreed), i.e. "shuffle then
  // take quota" without any randomness source.
  //
  // Scale shape: identical to e04's assignment pass (broadcast
  // centroids, max_by argmax — no window over the corpus), then ONE
  // window partitioned by cell over (cell-count)-sized groups to rank
  // and cut. n_cell rides along from the same window partition, so the
  // output also documents how unbalanced the original density was.

  private val cellQuota = 8

  private val e27 = Q(
    "e27_cell_balanced_sample",
    (s, d) => {
      val emb = normalizedEmb(s, d)
      val cents = emb.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cent_id"), col("en").as("cen"))
      val affinity = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
          Portable.dot(col("en"), col("cen")).as("cd"))
      val ord = struct(col("cd"), (-col("cent_id")).as("_nc"))
      val members = affinity.groupBy(col("vec_id"))
        .agg(max_by(col("cent_id"), ord).as("cent_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cent_id"))
      val ranked = members
        .withColumn("draw", Portable.hash60(col("vec_id").cast("string"), 47))
        .withColumn("pick_rnk", row_number().over(
          w.orderBy(col("draw").asc, col("vec_id").asc)))
        .withColumn("n_cell", count(lit(1)).over(w))
      ranked.filter(col("pick_rnk") <= cellQuota)
        .select(col("cent_id"), col("vec_id"), col("pick_rnk"), col("n_cell"))
    },
    Some(s"""
      WITH $normalizedSql,
      cents AS (SELECT vec_id AS cent_id, en AS cen FROM emb WHERE vec_id < $nCells),
      affinity AS (
        SELECT e.vec_id, c.cent_id, list_dot_product(e.en, c.cen) AS cd
        FROM emb e CROSS JOIN cents c),
      mx AS (SELECT vec_id, max(cd) AS mcd FROM affinity GROUP BY vec_id),
      members AS (
        SELECT a.vec_id, min(a.cent_id) AS cent_id
        FROM affinity a JOIN mx ON mx.vec_id = a.vec_id AND a.cd = mx.mcd
        GROUP BY a.vec_id),
      ranked AS (
        SELECT cent_id, vec_id,
               row_number() OVER (
                 PARTITION BY cent_id
                 ORDER BY ${OracleSql.hSql("CAST(vec_id AS VARCHAR)", 47)} ASC,
                          vec_id ASC) AS pick_rnk,
               count(*) OVER (PARTITION BY cent_id) AS n_cell
        FROM members)
      SELECT cent_id, vec_id, pick_rnk, n_cell
      FROM ranked WHERE pick_rnk <= $cellQuota
    """))

  // ---- e29/e30: PRODUCTION banded near-dup (mix16x4 geometry) ---------
  //
  // The production two-stage SemDeDup pipeline: 4 independent bands ×
  // 16 avalanche-mixed planes — per band ~2^16 effective buckets keep
  // the within-bucket candidate join at ~planted-pairs-only on this
  // corpus (RoundSevenOpsSpec pins it) while exact/near dups still
  // collide in some band. An 8-plane single-band scheme was measured at
  // ~93 effective buckets (candidate join ≈ N²/93, quadratic at corpus
  // scale) and retired in round 12. Stage 1: banded equi-join recall →
  // cosine gate (e29); stage 2: lexical Jaccard verify on survivors
  // only (e30).
  //
  // Scale shape: explode to (vec_id, band, bkt) — 4 rows per vector,
  // partition-local; candidates from a (band, bkt) equi-join with a
  // distinct-pair dedup that touches |candidates|, never N²; the verify
  // join touches |survivors|.

  /** Banded (mix16x4) candidate pairs over the doubled corpus with
    * cos ≥ 0.95 — e29's output rows and e30's recall stage, checkpointed
    * once.
    */
  private def neardupPairsBanded(s: SparkSession, d: String): DataFrame =
    scoredCandidatesFrom(s, d, "nd_scored_banded", dblBandsMix(s, d))
      .filter(col("cos") >= 0.95)

  /** DuckDB mirror of the banded candidate chain, ending in CTE
    * `surv(vec_a, vec_b, cos)`; assumes `dbl` is in scope.
    */
  private lazy val bandedSurvSql: String = {
    val bandsSql = bandedPlanes.zipWithIndex.map { case (ps, b) =>
      s"SELECT vec_id, $b AS band, ${bucketSqlOf(ps, planeVecMix, "e")} AS bkt FROM dbl"
    }.mkString("\n        UNION ALL ")
    s"""bands AS ($bandsSql),
      cand AS (
        SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
      sc AS (
        SELECT c.vec_a, c.vec_b, list_dot_product(x.en, y.en) AS cos
        FROM cand c JOIN dbl x ON x.vec_id = c.vec_a
                    JOIN dbl y ON y.vec_id = c.vec_b),
      surv AS (SELECT * FROM sc WHERE cos >= 0.95)"""
  }

  private val e29 = Q(
    "e29_embed_neardup_banded",
    (s, d) => neardupPairsBanded(s, d)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("sim")),
    Some(s"""
      WITH $normalizedSql,
      dbl AS (
        SELECT vec_id, e, en FROM emb
        UNION ALL SELECT vec_id + $dupShift, e, en FROM emb),
      $bandedSurvSql
      SELECT vec_a, vec_b, round(cos, 6) AS sim FROM surv
    """))

  private val e30 = Q(
    "e30_semantic_neardup_banded",
    (s, d) => {
      val cands = neardupPairsBanded(s, d)
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
      val toks = docs.unionAll(
          docs.select((col("doc_id") + dupShift).as("doc_id"), col("text")))
        .select(col("doc_id"),
          array_distinct(graft.etl.TextAnalysis.tokens(col("text"))).as("ts"))
      cands
        .join(toks.select(col("doc_id").as("vec_a"), col("ts").as("ts_a")), Seq("vec_a"))
        .join(toks.select(col("doc_id").as("vec_b"), col("ts").as("ts_b")), Seq("vec_b"))
        .withColumn("_jac", Portable.jaccard(col("ts_a"), col("ts_b")))
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("sim"),
          round(col("_jac"), 6).as("jaccard"),
          (col("_jac") >= 0.5).cast("int").as("is_dup"))
    },
    Some(s"""
      WITH $normalizedSql,
      dbl AS (
        SELECT vec_id, e, en FROM emb
        UNION ALL SELECT vec_id + $dupShift, e, en FROM emb),
      $bandedSurvSql,
      toks AS (
        SELECT doc_id, list_distinct(${OracleSql.toksSql}) AS ts
        FROM (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + $dupShift, text FROM documents)
             AS documents(doc_id, text)),
      j AS (
        SELECT vec_a, vec_b, cos,
               CASE WHEN len(list_distinct(a.ts || b.ts)) > 0
                    THEN CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                         / len(list_distinct(a.ts || b.ts)) END AS jac
        FROM surv JOIN toks a ON a.doc_id = surv.vec_a
                  JOIN toks b ON b.doc_id = surv.vec_b)
      SELECT vec_a, vec_b, round(cos, 6) AS sim, round(jac, 6) AS jaccard,
             CAST(jac >= 0.5 AS INTEGER) AS is_dup
      FROM j
    """))

  // ---- e31: ANN hard-negative mining ----------------------------------
  //
  // Contrastive training wants, per anchor, negatives that are CLOSE in
  // embedding space but provably not positives: random negatives (t66)
  // are too easy to teach a margin, and near-duplicates are false
  // negatives (they are positives mislabeled). The mining rule composes
  // three gates over the scored candidates: label mismatch (cannot be a
  // positive), cos < 0.95 (below the e29 near-dup gate — not a
  // missed duplicate), then top-k by cosine (as hard as allowed).
  //
  // Scale: the gates compose with ANY candidate generator — here the
  // anchors are ~1% of the corpus so the scorer is e01's broadcast
  // brute pass (anchors ⋈ corpus, corpus never shuffled); at 10⁹
  // vectors you swap in the IVF (e04) or multi-probe (e14) candidate
  // join and keep the filters and the per-anchor top-k verbatim. The
  // top-k itself is the native TopKPerGroup operator — k rows per
  // anchor survive the map-side partial.

  private val e31 = Q(
    "e31_hard_negatives",
    (s, d) => {
      val emb = normalizedEmb(s, d)
      val anchors = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("en").as("qe"))
      val cands = emb.select(col("vec_id").as("cid"), col("label").as("clab"),
        col("en").as("ce"))
      val scored = broadcast(anchors).crossJoin(cands)
        .filter(col("qlab") =!= col("clab"))
        .select(col("qid"), col("cid"),
          Portable.dot(col("qe"), col("ce")).as("cos"))
        .filter(col("cos") < 0.95)
      graft.etl.TopK.topK(scored, Seq(col("qid")), col("cos"), col("cid"), k)
        .select(col("qid"), col("cid"), col("rnk"),
          round(col("cos"), 6).as("sim"))
    },
    Some(s"""
      WITH $normalizedSql,
      q AS (SELECT vec_id AS qid, label AS qlab, en AS qe
            FROM emb WHERE vec_id % 100 = 0),
      scored AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, label AS clab, en AS ce FROM emb) c
        WHERE qlab <> c.clab AND list_dot_product(qe, ce) < 0.95),
      ${OracleSql.knnTailSql(k)}
    """))

  // ---- e32: nDCG@k retrieval-quality audit ----------------------------
  //
  // e09 counts HITS (recall); nDCG grades POSITIONS — an ANN run that
  // finds all k true neighbors but inverts their order scores 1.0 on
  // recall and below it here. Graded relevance of a returned candidate
  // is (k+1 − exact_rank) for the exact top-k, 0 otherwise; the log2
  // position discounts are PRECOMPUTED integer micro-weights
  // (floor(1e6/log2(i+1)), literal in both engines) so no runtime float
  // log can disagree in the last ulp — dcg_micro and the per-mille nDCG
  // are engine-exact integers. IDCG is the same constant for every
  // query (every anchor has k exact neighbors), folded into the
  // per-mille division.
  //
  // Scale: both inputs are the shared knn artifacts (k rows per query
  // each), so the audit is a |queries|·k equi-join + one agg — cost
  // independent of corpus size once the searches exist.

  private val ndcgW = Seq(1000000L, 630929L, 500000L, 430676L, 386852L)
  private val ndcgIdcg: Long =
    ndcgW.zipWithIndex.map { case (w, i) => (k - i) * w }.sum

  private val e32 = Q(
    "e32_ndcg_eval",
    (s, d) => {
      require(ndcgW.length == k)
      val rel = knnBrute(s, d)
        .select(col("qid"), col("cid"), (lit(k + 1) - col("rnk")).as("rel"))
      val wArr = array(ndcgW.map(lit): _*)
      val dcg = knnLsh(s, d).select(col("qid"), col("cid"), col("rnk"))
        .join(rel, Seq("qid", "cid"), "left")
        .select(col("qid"),
          (coalesce(col("rel"), lit(0L)) * element_at(wArr, col("rnk")))
            .as("g"))
        .groupBy(col("qid")).agg(sum(col("g")).as("_dcg"))
      // anchor universe = the EXACT side (every anchor has k exact rows
      // by construction): a query whose LSH search returned zero
      // candidates must still appear, as ndcg_pm = 0 — basing the output
      // on the approximate side would silently drop total-miss queries
      // and the audit would under-report exactly its worst case
      rel.select(col("qid")).distinct()
        .join(dcg, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("_dcg"), lit(0L)).as("dcg_micro"),
          expr(s"(1000 * coalesce(_dcg, 0L)) div $ndcgIdcg").as("ndcg_pm"))
    },
    Some(s"""
      WITH $normalizedSql,
      b AS (SELECT vec_id, en, ${bucketSql("e")} AS bkt FROM emb),
      q AS (SELECT vec_id AS qid, en AS qe FROM emb WHERE vec_id % 100 = 0),
      scored_ex AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM q CROSS JOIN (SELECT vec_id, en AS ce FROM emb) c
        WHERE qid <> c.vec_id),
      rex AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ex),
      rel AS (SELECT qid, cid, $k + 1 - rnk AS rel FROM rex WHERE rnk <= $k),
      qb AS (SELECT vec_id AS qid, en AS qe, bkt FROM b WHERE vec_id % 100 = 0),
      scored_ap AS (
        SELECT qid, c.vec_id AS cid, list_dot_product(qe, ce) AS cos
        FROM qb JOIN (SELECT vec_id, en AS ce, bkt FROM b) c USING (bkt)
        WHERE qid <> c.vec_id),
      rap AS (SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
              FROM scored_ap),
      ap AS (SELECT qid, cid, rnk FROM rap WHERE rnk <= $k),
      g AS (SELECT ap.qid,
                   coalesce(rel.rel, 0) *
                     ([${ndcgW.mkString(", ")}])[ap.rnk] AS g
            FROM ap LEFT JOIN rel USING (qid, cid)),
      gagg AS (SELECT qid, sum(g) AS sg FROM g GROUP BY 1),
      qs AS (SELECT DISTINCT qid FROM rel)
      SELECT qs.qid,
             CAST(coalesce(sg, 0) AS BIGINT) AS dcg_micro,
             CAST((1000 * coalesce(sg, 0)) // $ndcgIdcg AS BIGINT) AS ndcg_pm
      FROM qs LEFT JOIN gagg USING (qid)
    """))

  // ---- e33: semantic split-leakage audit (embedding decontamination) --
  //
  // The embedding-space twin of the t33 n-gram leakage audit, and the
  // decontamination gate labs actually run before training: a HELDOUT
  // document whose nearest TRAIN neighbor is a near-duplicate
  // (cos ≥ 0.95) leaks the eval set into training even when no n-gram
  // matches (paraphrases, reformatting). Splits follow t15's
  // deterministic hash rule (bucket = hash60(id, 13) % 100, < 90 train)
  // so the two audits compose over the same partition of the corpus.
  //
  // Corpus = the doubled fixture (the e29 convention): every vector
  // gains one exact copy at +dupShift whose split is assigned
  // INDEPENDENTLY (hash of the new id) — copies landing on the other
  // side of the split from their source are PLANTED leaks (cos = 1)
  // the audit must find, and exact duplicates collide in every band,
  // so the banded geometry cannot miss them. On the raw corpus the
  // gate honestly reports clean (max cross-split cos ≈ 0.34).
  //
  // Scale shape: the banded mix16x4 geometry (e29's production family)
  // as a PROBE join — the ~10% heldout side's band rows equi-join the
  // train side's (at 100 TB the heldout bands broadcast; the train
  // corpus is bucketed once and never self-joined). Exact cosine only on
  // candidates; the output universe is EVERY heldout doc (the e32
  // lesson: a doc with zero candidates must appear, as n_cand = 0 /
  // leaked = 0 — dropping it would hide exactly the docs the geometry
  // can't see).

  private val e33 = Q(
    "e33_semantic_leakage",
    (s, d) => {
      // split is a pure function of vec_id (the canonical t15 rule,
      // OracleSql.splitOf — ONE source of truth; e33 collapses val/test
      // to 'heldout'), so it is computed as a COLUMN on the shared band
      // artifact — no label join, and the normalized corpus is only
      // scanned where vectors are actually needed (the two cosine
      // lookup sides)
      val isTrain = OracleSql.splitOf(col("vec_id")) === "train"
      val bands = dblBandsMix(s, d).withColumn("in_train", isTrain)
      val cand = bands.filter(!col("in_train"))
        .select(col("vec_id").as("hid"), col("band"), col("bkt"))
        .join(bands.filter(col("in_train"))
          .select(col("vec_id").as("tid"), col("band"), col("bkt")),
          Seq("band", "bkt"))
        .select(col("hid"), col("tid")).distinct()
      val emb = doubledEmb(s, d)
      val sc = cand
        .join(emb.select(col("vec_id").as("hid"), col("en").as("he")), Seq("hid"))
        .join(emb.select(col("vec_id").as("tid"), col("en").as("te")), Seq("tid"))
        .select(col("hid"), col("tid"),
          Portable.dot(col("he"), col("te")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("hid"))
      val best = sc
        .withColumn("rn", row_number().over(
          w.orderBy(col("cos").desc, col("tid").asc)))
        .withColumn("nc", count(lit(1)).over(w))
        .filter(col("rn") === 1)
      // heldout universe from the (already-materialized) band artifact:
      // every vector carries exactly one row per band, so distinct ids
      // of the non-train band rows are the universe — no corpus rescan
      bands.filter(!col("in_train")).select(col("vec_id")).distinct()
        .join(best.select(col("hid").as("vec_id"), col("nc"),
          col("tid").as("best_train_id"), col("cos")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("nc"), lit(0L)).as("n_cand"),
          col("best_train_id"),
          round(col("cos"), 6).as("best_cos"),
          when(col("cos") >= 0.95, 1).otherwise(0).as("leaked"))
    },
    Some {
      val bandsSql = bandedPlanes.zipWithIndex.map { case (ps, b) =>
        s"SELECT vec_id, split, $b AS band, ${bucketSqlOf(ps, planeVecMix, "e")} AS bkt FROM sp"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH $normalizedSql,
      dbl AS (
        SELECT vec_id, e, en FROM emb
        UNION ALL SELECT vec_id + $dupShift, e, en FROM emb),
      sp AS (SELECT vec_id, e, en,
                    CASE WHEN (${OracleSql.splitSql("vec_id")}) = 'train'
                         THEN 'train' ELSE 'heldout' END AS split
             FROM dbl),
      bands AS (
        $bandsSql),
      cand AS (
        SELECT DISTINCT h.vec_id AS hid, t.vec_id AS tid
        FROM bands h JOIN bands t ON h.band = t.band AND h.bkt = t.bkt
        WHERE h.split = 'heldout' AND t.split = 'train'),
      sc AS (
        SELECT hid, tid, list_dot_product(h.en, t.en) AS cos
        FROM cand JOIN sp h ON h.vec_id = cand.hid
                  JOIN sp t ON t.vec_id = cand.tid),
      rn AS (
        SELECT hid, tid, cos,
               row_number() OVER (PARTITION BY hid ORDER BY cos DESC, tid ASC) AS rn,
               count(*) OVER (PARTITION BY hid) AS nc
        FROM sc),
      best AS (SELECT hid, tid, cos, nc FROM rn WHERE rn = 1)
      SELECT u.vec_id,
             CAST(coalesce(b.nc, 0) AS BIGINT) AS n_cand,
             b.tid AS best_train_id,
             round(b.cos, 6) AS best_cos,
             CASE WHEN b.cos >= 0.95 THEN 1 ELSE 0 END AS leaked
      FROM (SELECT vec_id FROM sp WHERE split = 'heldout') u
      LEFT JOIN best b ON b.hid = u.vec_id
      """
    })

  def all: Seq[Q] =
    Seq(e01, e02, e04, e05, e06, e08, e09, e10, e11, e12,
      e14, e15, e16, e17, e18, e19, e20, e21, e22, e23, e24, e25, e26, e27,
      e28, e29, e30, e31, e32, e33)
}
