package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Embedding similarity search (SURVEY.md §2.D): brute-force cosine as
  * the exact baseline, LSH (random hyperplanes) and IVF (coarse
  * centroids) as the bucketed scale paths.
  *
  * Scale design: brute force only ever runs against a bounded,
  * broadcast query set; the approximate variants turn the search into
  * equi-joins on bucket keys. Centroid computation is one partial
  * aggregate into a one-row codebook — dimension-bounded, never
  * collects vectors.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val Dim = 64

  /** Elementwise dot product of two array<double> columns, left-folded
    * in index order on both engines (parity with DuckDB). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Spread on read (no-op when input splits already parallelize):
    * the corpus arrives as one file locally and the cosine kernels
    * are CPU-bound. */
  private[graft] def vectors(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        col("label"))

  /** Cosine near-duplicate pairs above tau.
    *
    * Two plans behind a size gate: the exact all-pairs join is the
    * oracle-checkable baseline and ONLY runs when the corpus is small
    * enough to afford N² (maxExact); above that the pairs come from
    * LSH bucket candidates (equi-join on hyperplane-bucket keys — the
    * shuffle carries candidates, never N²) with exact cosine verify.
    * Pointing the old unconditional all-pairs at a full corpus was a
    * scale-killer; the gate makes the default safe. */
  def embedNeardupPairs(s: SparkSession, d: String,
      maxExact: Long = 100000L,
      restrictA: Option[Column] = None): DataFrame = {
    val v = vectors(s, d).select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"))
    // size gate from the RAW table: Spark answers count() over plain
    // parquet from row-group metadata — no data pass for the gate
    val exact = Tables.embeddings(s, d).count() <= maxExact
    // optional anchor-side restriction (over vec_id), applied AFTER
    // bucketing/corpus-wide structure: the scale-probe shape — "which
    // pairs anchored at THESE vectors survive" — without the full
    // pair mass (same idea as Dedup.containmentPairs' restrict). A
    // pair qualifies when EITHER endpoint is an anchor, regardless of
    // id order: the join keeps ia≠ib and normalizes to (least,
    // greatest) before dedup, so an anchor with the larger vec_id is
    // never dropped. The unrestricted path keeps the original
    // ia<ib join (the oracle-pinned plan) byte-identical.
    def sideA(df: DataFrame): DataFrame = restrictA.fold(df)(df.filter)
    // pair condition + orientation: unrestricted keeps the original
    // ia<ib join (the oracle-pinned plan, no extra dedup — ia<ib is
    // already unique); restricted joins on ia≠ib and normalizes to
    // (least, greatest), so an anchor with the larger vec_id is never
    // dropped, then dedups the two orientations
    val pairCond =
      if (restrictA.isEmpty) col("ia") < col("ib")
      else col("ia") =!= col("ib")
    def orient(pairs: DataFrame): DataFrame =
      if (restrictA.isEmpty) pairs
      else pairs
        .withColumn("lo", least(col("ia"), col("ib")))
        .withColumn("hi", greatest(col("ia"), col("ib")))
        .drop("ia", "ib")
        .withColumnRenamed("lo", "ia").withColumnRenamed("hi", "ib")
        .dropDuplicates("ia", "ib")
    if (exact) {
      val a = sideA(v).select(col("vec_id").as("ia"), col("emb").as("ea"), col("nrm").as("na"))
      val b = v.select(col("vec_id").as("ib"), col("emb").as("eb"), col("nrm").as("nb"))
      orient(a.join(b, pairCond))
        .select(col("ia"), col("ib"),
          graft.functions.ArrayKernels.cosineSim(col("ea"), col("eb")).as("cos"))
        .filter(col("cos") > 0.45)
        .select(col("ia"), col("ib"), round(col("cos"), 4).as("cos"))
        .orderBy(col("ia"), col("ib"))
    } else {
      // candidates from any shared LSH bucket; one shuffle on the key
      val vk = v.select(col("vec_id"), col("emb"),
          explode(bucketKeys(s, col("emb"))).as("k"))
      val a = sideA(vk)
        .select(col("k"), col("vec_id").as("ia"), col("emb").as("ea"))
      val b = vk.select(col("k"), col("vec_id").as("ib"), col("emb").as("eb"))
      orient(a.join(b, Seq("k")).filter(pairCond))
        .select(col("ia"), col("ib"), col("ea"), col("eb"))
        .dropDuplicates("ia", "ib")
        .select(col("ia"), col("ib"),
          graft.functions.ArrayKernels.cosineSim(col("ea"), col("eb")).as("cos"))
        .filter(col("cos") > 0.45)
        .select(col("ia"), col("ib"), round(col("cos"), 4).as("cos"))
        .orderBy(col("ia"), col("ib"))
    }
  }

  val ddEmbedNeardup: Q = (s, d) => embedNeardupPairs(s, d)

  val ddEmbedNeardupSql: String =
    """SELECT a.vec_id AS ia, b.vec_id AS ib,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),4) AS cos
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.45
       ORDER BY ia, ib"""

  /** Exact top-k: 5 broadcast query vectors against the corpus,
    * row_number per query. */
  val annBruteTopk: Q = (s, d) => {
    val v = vectors(s, d).select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    v.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.ArrayKernels.cosineSim(col("emb"), col("qe")).as("cos_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annBruteTopkSql: String =
    """SELECT q_id, rank, vec_id, round(cos_raw,4) AS cos FROM (
         SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
           list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS cos_raw,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) DESC,
                      v.vec_id) AS rank
         FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
         WHERE q.vec_id < 5) t
       WHERE rank <= 10 ORDER BY q_id, rank"""

  // ---- LSH (random hyperplane) ---------------------------------------

  /** (table, sign-bit bucket) keys for a vector — multi-table LSH: a
    * neighbor is a candidate if it agrees on all planes of ANY table,
    * which keeps per-table selectivity high without killing recall.
    * One compact codegen'd expression (LshKernel) — the previous
    * 32-literal-array formulation cost ~6 s of whole-stage codegen
    * compilation per cold plan. */
  private def bucketKeys(s: SparkSession, emb: Column): Column = {
    // the session's recall dial (graft.ann.lshPreset, default 8x4 —
    // the oracle-pinned derivation; 16x3 trades ~4x candidate mass
    // for >0.99 recall at cos 0.45-0.5). Curve documented at
    // LshKernel.Presets.
    val (t, p) = graft.functions.LshKernel.presetOf(s)
    graft.functions.LshKernel.bucketKeysCol(emb, t, p)
  }

  /** Table property stamped on persisted bucket-key tables: the
    * recall preset the keys were computed under. Bucket keys are a
    * pure function of (embedding, preset); a join between keys from
    * different presets silently matches nothing, so persistence
    * records the preset and loads ASSERT it (Registry.scala hazard
    * note, README "ANN recall dial"). */
  val LshPresetProp = "graft.ann.lshPreset"

  /** Materialize the corpus's exploded LSH bucket keys
    * (vec_id, t, b) into a graft table at `root`, stamped with the
    * SESSION preset at create time — the durable half of incremental
    * ANN: later sessions bucket only their new vectors and equi-join
    * the stored keys, instead of re-hashing the corpus. */
  def persistBucketKeys(s: SparkSession, d: String,
      root: String): graft.table.GraftTable = {
    val keys = vectors(s, d)
      .select(col("vec_id"), explode(bucketKeys(s, col("emb"))).as("k"))
      .select(col("vec_id"), col("k.t").as("t"), col("k.b").as("b"))
    val table = graft.table.GraftTable.create(s, root, keys.schema,
      properties = Map(
        LshPresetProp -> graft.functions.LshKernel.presetNameOf(s)))
    table.append(keys)
    table
  }

  /** The stamp assertion shared by every stored-key read/write path:
    * refuses loudly when the stored stamp and the session dial
    * disagree — the alternative is an empty join result that looks
    * like "no near-duplicates", not an error. An unstamped table also
    * refuses: there is no way to know which preset computed it
    * (stamp it with updateProperties after verifying out-of-band). */
  private def requirePresetMatch(t: graft.table.GraftTable,
      s: SparkSession, root: String): Unit = {
    val session = graft.functions.LshKernel.presetNameOf(s)
    t.meta.properties.get(LshPresetProp) match {
      case Some(stored) if stored == session => ()
      case Some(stored) => throw new IllegalStateException(
        s"persisted bucket keys at $root were computed under " +
          s"$LshPresetProp=$stored but this session dials $session: " +
          "a cross-preset bucket join silently matches nothing. " +
          s"Set $LshPresetProp=$stored (or recompute the keys under " +
          s"$session via persistBucketKeys)")
      case None => throw new IllegalStateException(
        s"bucket-key table at $root carries no $LshPresetProp stamp; " +
          "cannot prove the keys match this session's dial. Stamp the " +
          s"table (updateProperties(Map(\"$LshPresetProp\" -> <preset>)))" +
          " after verifying which preset computed it")
    }
  }

  /** Load persisted bucket keys for joining against THIS session's
    * keys; stamp-checked (see requirePresetMatch). */
  def loadBucketKeys(s: SparkSession, root: String): DataFrame = {
    val t = graft.table.GraftTable.load(s, root)
    requirePresetMatch(t, s, root)
    t.scan()
  }

  /** The incremental half: bucket only the NEW vectors
    * (`(vec_id, emb)` rows) and append their exploded keys to the
    * stored table — later sessions join stored keys instead of
    * re-hashing the corpus, and ingest cost tracks the batch, not the
    * table. Stamp-checked like every stored-key path, so a preset
    * drift between the stamping session and this one refuses instead
    * of silently mixing incompatible bucket spaces. */
  def appendBucketKeys(s: SparkSession, newVectors: DataFrame,
      root: String): graft.table.GraftTable = {
    val t = graft.table.GraftTable.load(s, root)
    requirePresetMatch(t, s, root)
    t.append(newVectors
      .select(col("vec_id"), explode(bucketKeys(s, col("emb"))).as("k"))
      .select(col("vec_id"), col("k.t").as("t"), col("k.b").as("b")))
    t
  }

  /** LSH top-k: equi-join on (table, bucket), candidates deduped, exact
    * rerank only on candidates. Shuffle cost tracks candidate count.
    * Rows-only; recall vs brute force asserted in PipelineSpec. */
  val annLshTopk: Q = (s, d) => {
    val v = vectors(s, d)
      .select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"),
        bucketKeys(s, col("emb")).as("keys"))
    val vk = v.select(col("vec_id"), col("emb"), col("nrm"),
      explode(col("keys")).as("k"))
    val q = vk.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"),
        col("nrm").as("qn"), col("k"))
    // candidate ids per query (dedup across tables), then exact rerank
    val cands = vk.join(broadcast(q), Seq("k"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qe"), col("qn"),
        col("vec_id"), col("emb"), col("nrm"))
      .dropDuplicates("q_id", "vec_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    cands
      .select(col("q_id"), col("vec_id"),
        graft.functions.ArrayKernels.cosineSim(col("emb"), col("qe")).as("cos_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ---- IVF (coarse centroids) ----------------------------------------

  private val NProbe = 2

  /** Coarse centroids: the mean vector of each label cluster, as a
    * one-row codebook `book` (array<struct<cluster, centroid>>, sorted
    * by cluster). One `CentroidCodebook` aggregate with no grouping
    * key: each partition folds its rows into per-cluster sums, the
    * partial buffers meet in one task, and every centroid dimension
    * equals `avg(emb[i])` of its cluster. Callers broadcast the row and
    * cross it with each vector, so assignment needs no shuffle. */
  private def centroids(v: DataFrame): DataFrame =
    v.agg(graft.functions.ArrayKernels.centroidCodebook(col("label"), col("emb"), Dim)
      .as("book"))

  /** IVF top-k: assign every vector to its nearest centroid, probe the
    * nProbe nearest centroids per query, search only those inverted
    * lists. Assignment and probes are per-row kernels over the
    * broadcast codebook; the lists meet the probes in an equi-join on
    * cluster id. Rows-only; recall asserted in SimilaritySpec. */
  val annIvfTopk: Q = (s, d) => {
    val v = vectors(s, d)
    val book = broadcast(centroids(vectors(s, d)))

    // nearest centroid per vector (inverted-list assignment): highest
    // raw cosine, ties to the lowest cluster
    val assigned = v.crossJoin(book)
      .select(col("vec_id"), col("emb"),
        graft.functions.ArrayKernels.nearestCentroid(col("emb"), col("book")).as("cluster"))

    // nProbe nearest centroids per query, by (cosine desc, cluster)
    val probes = v.filter(col("vec_id") < 5).crossJoin(book)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"),
        explode(graft.functions.ArrayKernels.topCentroids(col("emb"), col("book"), NProbe))
          .as("cluster"))

    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.ArrayKernels.cosineSim(col("emb"), col("qe")).as("cos_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ---- PQ (product quantization) -------------------------------------

  private val PqM = 4   // subspaces
  private val PqSub = Dim / PqM
  private val PqK = 8   // codewords per subspace

  /** PQ top-k: the memory-compressed exhaustive scan (the third classic
    * ANN family next to LSH and IVF; at 100 TB you'd compose it with
    * IVF's pruning as IVF-PQ). Codebooks are deterministic — per
    * subspace, the mean subvector over `vec_id % K` groups — so the
    * oracle rebuilds them exactly. Every vector is encoded to M codes
    * via a broadcast codebook join (narrow, no shuffle per vector
    * beyond the groupBy(vec_id, m) argmin); queries score candidates
    * with ADC — M inner-product table lookups instead of a D-dim dot —
    * then the reported top-k carries the exact cosine. Distances and
    * ADC sums are rounded at 6 decimals BEFORE argmin/ranking with id
    * tie-breaks, so cross-engine float-sum-order noise can't flip the
    * comparison. */
  val annPqTopk: Q = (s, d) => {
    val v = vectors(s, d).select(col("vec_id"), col("emb"))
    // codebook: mean subvector per (subspace m, codeword c). The
    // CentroidCodebook aggregate builds every codeword group's mean
    // vector as one row (each dimension equal to `avg(emb[i])` of the
    // group, as IVF's centroids); the TINY book (PqK entries) is then
    // exploded and each centroid sliced into its PqM subvectors
    val cb = broadcast(
      v.agg(graft.functions.ArrayKernels.centroidCodebook(
          (col("vec_id") % PqK).cast("int"), col("emb"), Dim).as("book"))
        .select(explode(col("book")).as("e"))
        .select(col("e.cluster").as("c"), posexplode(array((0 until PqM).map(m =>
            slice(col("e.centroid"), m * PqSub + 1, PqSub)): _*))
          .as(Seq("m", "cw"))))
    val subs = v.select(col("vec_id"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("emb"), m * PqSub + 1, PqSub)): _*)).as(Seq("m", "sx")))
    // encode: nearest codeword per (vector, subspace); lexicographic
    // struct-min = deterministic tie-break on code id
    val enc = subs.join(cb, Seq("m"))
      .select(col("vec_id"), col("m"), col("c"),
        round(aggregate(zip_with(col("sx"), col("cw"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x), 6)
          .as("dist"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("c"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.c").as("code"))
    // ADC table: subspace inner products query × codeword (tiny)
    val qip = subs.filter(col("vec_id") < 5).join(cb, Seq("m"))
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("c").as("qc"),
        aggregate(zip_with(col("sx"), col("cw"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("ip"))
    val adc = enc.join(broadcast(qip),
        col("qm") === col("m") && col("qc") === col("code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("ip")), 6).as("adc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val ranked = adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    val qe = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"))
    ranked.join(broadcast(qe), Seq("q_id")).join(v, Seq("vec_id"))
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("adc"), 4).as("adc"),
        round(graft.functions.ArrayKernels.cosineSim(col("emb"), col("qemb")), 4)
          .as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annPqTopkSql: String =
    """WITH
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sub AS (
  SELECT vec_id, m::INT AS m, e[m*16+1 : m*16+16] AS sx
  FROM emb, unnest(range(0, 4)) t(m)),
cbcomp AS (
  SELECT (vec_id % 8)::INT AS c, i, avg(e[i]) AS cx
  FROM emb, unnest(range(1, 65)) t(i) GROUP BY 1, i),
cb AS (
  SELECT ((i-1) // 16)::INT AS m, c, list(cx ORDER BY i) AS cw
  FROM cbcomp GROUP BY 1, c),
dists AS (
  SELECT s.vec_id, s.m, cb.c,
    round(list_sum(list_transform(range(1, 17),
      i -> (s.sx[i] - cb.cw[i]) * (s.sx[i] - cb.cw[i]))), 6) AS dist
  FROM sub s JOIN cb USING (m)),
enc AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
    FROM dists) t WHERE rn = 1),
qip AS (
  SELECT s.vec_id AS q_id, s.m, cb.c,
    list_sum(list_transform(range(1, 17), i -> s.sx[i] * cb.cw[i])) AS ip
  FROM sub s JOIN cb USING (m) WHERE s.vec_id < 5),
adc AS (
  SELECT q.q_id, e.vec_id, round(sum(q.ip), 6) AS adc
  FROM enc e JOIN qip q ON q.m = e.m AND q.c = e.code
  WHERE e.vec_id <> q.q_id GROUP BY q.q_id, e.vec_id),
ranked AS (
  SELECT q_id, vec_id, adc,
    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS rank
  FROM adc)
SELECT r.q_id, r.rank, r.vec_id, round(r.adc, 4) AS adc,
  round(list_cosine_similarity(qe.e, ve.e), 4) AS cos
FROM ranked r
JOIN emb qe ON qe.vec_id = r.q_id
JOIN emb ve ON ve.vec_id = r.vec_id
WHERE r.rank <= 10 ORDER BY q_id, rank"""

  // ---- SQ (scalar quantization) --------------------------------------

  private val SqLevels = 256

  /** SQ8 top-k — the fourth classic ANN compression next to LSH / IVF
    * / PQ: every dimension is quantized independently to an 8-bit code
    * against per-dimension corpus [min, max] ranges, shrinking the
    * scanned payload 8× (64 doubles → 64 bytes; FAISS's
    * ScalarQuantizer). Queries stay exact and score candidates against
    * the DEQUANTIZED vectors (asymmetric distance, like PQ's ADC);
    * the reported top-k carries the exact cosine alongside.
    *
    * Scale: the range table is one posexplode → groupBy(dim) pass
    * (dimension-bounded), broadcast as a single row; encoding and
    * scoring are narrow per-row projections — the scan is embarrassingly
    * parallel and at 100 TB it is the 8×-smaller column you scan, with
    * IVF's bucketing composable on top exactly as with PQ. Scores are
    * rounded at 6 decimals before ranking with id tie-breaks so
    * cross-engine float-sum-order noise can't flip the order; ranges,
    * codes and dequantization are exact double arithmetic the oracle
    * replays bit-for-bit. */
  val annSqTopk: Q = (s, d) => {
    val v = vectors(s, d).select(col("vec_id"), col("emb"))
    // per-dimension [min, max] over the corpus, rebuilt as two arrays
    val st = broadcast(
      v.select(posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
          .as("pr"))
        .select(transform(col("pr"), p => p.getField("mn")).as("mns"),
          transform(col("pr"), p => p.getField("mx")).as("mxs")))
    // encode to 8-bit codes, dequantize to the cell midpoint
    val rec = v.crossJoin(st).select(col("vec_id"), {
      val sc = zip_with(col("emb"), col("mns"), (x, mn) => x - mn)
      val rng = zip_with(col("mxs"), col("mns"), (mx, mn) => mx - mn)
      val codes = zip_with(sc, rng, (a, r) =>
        when(r === 0, lit(0)).otherwise(
          least(lit(SqLevels - 1), greatest(lit(0),
            floor(a / r * SqLevels).cast("int")))))
      val half = zip_with(codes, rng, (c, r) =>
        (c + lit(0.5)) * r / lit(SqLevels.toDouble))
      zip_with(half, col("mns"), (h, mn) => h + mn).as("recon")
    })
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sq").desc, col("vec_id"))
    val ranked = rec.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qe"), col("recon")), 6).as("sq"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    val qe = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"))
    ranked.join(broadcast(qe), Seq("q_id")).join(v, Seq("vec_id"))
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("sq"), 4).as("sq"),
        round(graft.functions.ArrayKernels.cosineSim(col("emb"), col("qemb")), 4)
          .as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact replica: per-dimension min/max, same floor-quantize /
    * midpoint-dequantize arithmetic in the same operation order, same
    * 6-decimal pre-rank rounding. */
  val annSqTopkSql: String =
    """WITH
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
st AS (
  SELECT i, min(e[i]) AS mn, max(e[i]) AS mx
  FROM emb, unnest(range(1, 65)) t(i) GROUP BY i),
stl AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
rec AS (
  SELECT vec_id, list_transform(range(1, 65), i ->
    (CASE WHEN mxs[i] - mns[i] = 0 THEN 0
      ELSE least(255, greatest(0,
        floor((e[i] - mns[i]) / (mxs[i] - mns[i]) * 256)::INT)) END
     + 0.5) * (mxs[i] - mns[i]) / 256.0 + mns[i]) AS r
  FROM emb, stl),
sq AS (
  SELECT q.vec_id AS q_id, v.vec_id,
    round(list_sum(list_transform(range(1, 65), i -> q.e[i] * v.r[i])), 6) AS sq
  FROM emb q JOIN rec v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < 5),
ranked AS (
  SELECT q_id, vec_id, sq,
    row_number() OVER (PARTITION BY q_id ORDER BY sq DESC, vec_id) AS rank
  FROM sq)
SELECT r.q_id, r.rank, r.vec_id, round(r.sq, 4) AS sq,
  round(list_cosine_similarity(qe.e, ve.e), 4) AS cos
FROM ranked r
JOIN emb qe ON qe.vec_id = r.q_id
JOIN emb ve ON ve.vec_id = r.vec_id
WHERE r.rank <= 10 ORDER BY q_id, rank"""

  // ---- semantic decontamination --------------------------------------

  /** Semantic test-set decontamination — the embedding analog of
    * pipeline_decontaminate's n-gram check (paraphrased leakage that
    * shares no 5-gram still lands next to the eval item in embedding
    * space): flag every corpus vector whose cosine to ANY eval-set
    * vector reaches tau, reporting the max similarity and the nearest
    * eval item. The eval set is bounded and broadcast (like the
    * n-gram check's gram set), so the scan is one narrow pass over
    * the corpus — no shuffle, no N²; at 100 TB the same pass rides
    * the LSH/IVF bucketing if the eval set ever outgrows broadcast. */
  val pipelineSemanticDecon: Q = (s, d) => {
    val v = vectors(s, d).select(col("vec_id"), col("emb"))
    val evals = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("eval_id"), col("emb").as("ee"))
    val corpus = v.filter(col("vec_id") >= 20)
    corpus.join(broadcast(evals))
      .select(col("vec_id"), col("eval_id"),
        round(graft.functions.ArrayKernels.cosineSim(col("emb"), col("ee")), 6)
          .as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("eval_id"), struct(col("cos"), -col("eval_id")))
        .as("nearest_eval"),
        max(col("cos")).as("max_cos"))
      .select(col("vec_id"), col("nearest_eval"), col("max_cos"),
        (col("max_cos") >= 0.5).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Exact replica: same rounded cosines, same argmax tie-break
    * (highest cos, lowest eval id), same threshold. */
  val pipelineSemanticDeconSql: String =
    """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      scored AS (
        SELECT c.vec_id, q.vec_id AS eval_id,
          round(list_cosine_similarity(c.e, q.e), 6) AS cos
        FROM emb c JOIN emb q ON q.vec_id < 20
        WHERE c.vec_id >= 20),
      agged AS (
        SELECT vec_id, eval_id AS nearest_eval, cos AS max_cos FROM (
          SELECT vec_id, eval_id, cos,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, eval_id) AS rn
          FROM scored) t
        WHERE rn = 1)
      SELECT vec_id, nearest_eval, max_cos,
        max_cos >= 0.5 AS contaminated
      FROM agged ORDER BY vec_id"""

  // ---- semantic dedup (SemDeDup) -------------------------------------

  private val SemTau = 0.4

  /** Semantic dedup — the SemDeDup recipe (cluster the embedding
    * space, then near-dup only WITHIN clusters): assign every vector
    * to its nearest coarse centroid, compare pairs inside each
    * cluster, and drop any vector that has an earlier near-duplicate
    * (cosine >= tau) in its cluster. Output is the per-vector verdict.
    *
    * Scale: the all-pairs comparison is confined to a cluster — the
    * shuffle key is the cluster id and pair cost is sum over clusters
    * of |c|^2, not N^2; production caps |c| by splitting hot clusters
    * (more centroids), exactly like IVF list balancing. Centroids are
    * deterministic (label-seeded means, the ann_ivf codebook), the
    * argmax assignment rounds to 6 dp with a cluster-id tie-break, so
    * the oracle replays assignment and verdicts bit-for-bit. */
  /** The nearest-centroid assignment frame of ddSemantic BEFORE the
    * localCheckpoint — exposed so the plan-shape guard can assert the
    * centroid broadcast on the sub-plan that actually executes it
    * (after the checkpoint the final plan is just Scan ExistingRDD). */
  private[graft] def ddSemanticAssignment(s: SparkSession, d: String): DataFrame = {
    val book = broadcast(centroids(vectors(s, d)))
    // deterministic nearest centroid: highest round(cosine, 6), ties to
    // the lowest cluster
    vectors(s, d).crossJoin(book)
      .select(col("vec_id"),
        graft.functions.ArrayKernels.nearestCentroid(col("emb"), col("book"), 6).as("cluster"),
        col("emb"))
  }

  val ddSemantic: Q = (s, d) => {
    // localCheckpoint: the assignment (scan + centroid cross-join +
    // argmax over clusters) feeds THREE consumers (both sides of the
    // within-cluster pair join and the final verdict join) — compute
    // it once; compact form (one row per vector), so the
    // materialization is cheap (the dd_containment pattern)
    val assigned = ddSemanticAssignment(s, d).localCheckpoint()
    val a = assigned.select(col("cluster"), col("vec_id").as("ia"),
      col("emb").as("ea"))
    val b = assigned.select(col("cluster"), col("vec_id").as("ib"),
      col("emb").as("eb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("ia") < col("ib"))
      .filter(round(graft.functions.ArrayKernels.cosineSim(col("ea"), col("eb")), 6)
        >= SemTau)
      .select(col("ib").as("vec_id")).distinct()
      .withColumn("kept", lit(false))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("kept"), lit(true)).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Exact replica: ann_ivf's centroid CTE, rounded-argmax assignment
    * with the same tie-break, within-cluster pair scan, keep-earliest
    * verdict. */
  val ddSemanticSql: String =
    """WITH
emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
comp AS (
  SELECT label AS cluster, i, avg(e[i]) AS cx
  FROM emb, unnest(range(1, 65)) t(i)
  GROUP BY label, i),
cents AS (SELECT cluster, list(cx ORDER BY i) AS cemb FROM comp GROUP BY cluster),
assigned AS (
  SELECT vec_id, cluster, e FROM (
    SELECT v.vec_id, c.cluster, v.e,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY round(list_cosine_similarity(v.e, c.cemb), 6) DESC,
                 c.cluster) AS rn
    FROM emb v, cents c) t
  WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4)
SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
ORDER BY a.vec_id"""

  val queries: Map[String, Q] = Map(
    "pipeline_semantic_decon" -> pipelineSemanticDecon,
    "dd_semantic" -> ddSemantic,
    "dd_embed_neardup" -> ddEmbedNeardup,
    "ann_brute_topk" -> annBruteTopk,
    "ann_lsh_topk" -> annLshTopk,
    "ann_ivf_topk" -> annIvfTopk,
    "ann_pq_topk" -> annPqTopk,
    "ann_sq_topk" -> annSqTopk)

  /** Exact DuckDB replica of the LSH path: the hyperplanes are
    * deterministic (murmur3 of the flat index via the same pure-SQL
    * 8-byte mix as the pt_bucket oracle, scaled by Int.MaxValue), so
    * the oracle rebuilds the identical planes, buckets every vector
    * per table, joins on (table, bucket), and reranks candidates —
    * validating bucketing AND rerank bit-for-bit, not just recall. */
  val annLshTopkSql: String =
    """WITH
idx AS (SELECT unnest(range(0, 2048)) AS f),
mh AS (
  SELECT f,
    ((f)::HUGEINT * 3432918353 % 4294967296)::BIGINT AS p0a,
    ((((((p0a) << 15) | ((p0a) >> 17)) & 4294967295))::HUGEINT * 461845907 % 4294967296)::BIGINT AS p0b,
    xor(0::BIGINT, p0b) AS h0a,
    ((((((h0a) << 13) | ((h0a) >> 19)) & 4294967295) * 5 + 3864292196) % 4294967296) AS h0,
    xor(h0, 0::BIGINT) AS h1a,
    ((((((h1a) << 13) | ((h1a) >> 19)) & 4294967295) * 5 + 3864292196) % 4294967296) AS h1b,
    xor(h1b, 8) AS f0, xor(f0, f0 >> 16) AS f1,
    ((f1)::HUGEINT * 2246822507 % 4294967296)::BIGINT AS f2, xor(f2, f2 >> 13) AS f3,
    ((f3)::HUGEINT * 3266489909 % 4294967296)::BIGINT AS f4, xor(f4, f4 >> 16) AS hu
  FROM idx),
pc AS (
  SELECT f // 64 AS p, f % 64 AS i,
    (CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END) / 2147483647.0 AS c
  FROM mh),
planes AS (SELECT p, p // 4 AS t, p % 4 AS bit, list(c ORDER BY i) AS pl FROM pc GROUP BY p),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
vb AS (
  SELECT vec_id, t,
    sum(CASE WHEN list_inner_product(e, pl) >= 0 THEN 1 << bit ELSE 0 END)::BIGINT AS b
  FROM emb, planes GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, v.vec_id AS vec_id
  FROM vb q JOIN vb v ON q.t = v.t AND q.b = v.b AND v.vec_id <> q.vec_id
  WHERE q.vec_id < 5),
rer AS (
  SELECT c.q_id, c.vec_id,
    list_cosine_similarity(qe.e, ve.e) AS cos_raw,
    row_number() OVER (PARTITION BY c.q_id
      ORDER BY list_cosine_similarity(qe.e, ve.e) DESC, c.vec_id) AS rank
  FROM cand c JOIN emb qe ON qe.vec_id = c.q_id JOIN emb ve ON ve.vec_id = c.vec_id)
SELECT q_id, rank, vec_id, round(cos_raw, 4) AS cos
FROM rer WHERE rank <= 10 ORDER BY q_id, rank"""

  /** Exact DuckDB replica of the IVF path: label-seeded mean centroids
    * (avg per dimension), argmax assignment, nProbe=2 probe selection,
    * exact rerank over the probed inverted lists. */
  val annIvfTopkSql: String =
    """WITH
emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
comp AS (
  SELECT label AS cluster, i, avg(e[i]) AS cx
  FROM emb, unnest(range(1, 65)) t(i)
  GROUP BY label, i),
cents AS (SELECT cluster, list(cx ORDER BY i) AS cemb FROM comp GROUP BY cluster),
assigned AS (
  SELECT vec_id, arg_max(cluster, list_cosine_similarity(e, cemb)) AS cluster
  FROM emb, cents GROUP BY vec_id),
probes AS (
  SELECT q_id, cluster FROM (
    SELECT q.vec_id AS q_id, c.cluster,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(q.e, c.cemb) DESC, c.cluster) AS prank
    FROM emb q, cents c WHERE q.vec_id < 5) t
  WHERE prank <= 2),
cand AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.q_id),
rer AS (
  SELECT c.q_id, c.vec_id,
    list_cosine_similarity(qe.e, ve.e) AS cos_raw,
    row_number() OVER (PARTITION BY c.q_id
      ORDER BY list_cosine_similarity(qe.e, ve.e) DESC, c.vec_id) AS rank
  FROM cand c JOIN emb qe ON qe.vec_id = c.q_id JOIN emb ve ON ve.vec_id = c.vec_id)
SELECT q_id, rank, vec_id, round(cos_raw, 4) AS cos
FROM rer WHERE rank <= 10 ORDER BY q_id, rank"""

  val oracles: Map[String, String] = Map(
    "pipeline_semantic_decon" -> pipelineSemanticDeconSql,
    "dd_semantic" -> ddSemanticSql,
    "dd_embed_neardup" -> ddEmbedNeardupSql,
    "ann_brute_topk" -> annBruteTopkSql,
    "ann_lsh_topk" -> annLshTopkSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_pq_topk" -> annPqTopkSql,
    "ann_sq_topk" -> annSqTopkSql)
}
