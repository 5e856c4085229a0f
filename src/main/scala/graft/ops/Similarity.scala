package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - Brute force: block-nested-loop join with the PROBE side broadcast
  *    (queries are small; the corpus side streams — no corpus shuffle),
  *    dot/cosine computed with codegen'd `zip_with`/`aggregate` higher-
  *    order functions, top-k by ranking window.
  *  - Scale path: signed-random-projection LSH — `nBits` deterministic
  *    hyperplanes bucket the corpus; probes only join their own bucket
  *    (+ optional multi-probe neighbors), bounding the pair count.
  */
object Similarity {

  /** Dot product of two float arrays as double, left-to-right — the
    * native codegen'd `graft.functions.DotF32` expression (a primitive
    * loop in the generated code; the higher-order-function
    * `aggregate(zip_with(...))` formulation allocates a boxed array
    * per pair and is ~7x slower on the brute-force join).
    *
    * Column construction is session-free, but `call_function` resolves
    * through the session function registry, so the expression is
    * registered on the active session here and on the input frames'
    * own sessions in [[bruteForceTopK]]/[[lshTopK]] (they may differ
    * in multi-session apps). With no session at all this falls back to
    * the pure-Column higher-order-function formulation, which is
    * semantically identical.
    */
  def dotCol(a: Column, b: Column): Column =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        graft.functions.GraftFunctions.register(s)
        call_function("dot_f32", a, b)
      case None =>
        aggregate(
          zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)
    }

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** Probe-set rows above which the probe-side broadcast is withheld.
    * At the default, a 64-dim float probe set broadcasts ~50 MB — fine
    * on any executor; past the cap the bucketed paths (lsh/ivf) fall
    * back to their equi-key shuffle join and the brute-force path
    * fails fast, because an executor-OOM mid-broadcast is the one
    * failure mode a 10^12-row job cannot diagnose. The check-then-use
    * is not atomic (the probe plan executes for the bounded count and
    * again for the join), so the documented requirement is the same
    * deterministic-lineage contract as CorpusStats/Packing.
    */
  private[ops] val MaxBroadcastProbes = 200000L

  /** Brute-force top-k by dot product: corpus x broadcast(probes).
    *
    * k == 1 avoids the ranking window entirely: `max(struct(score,
    * -neighbor, neighbor))` is a hash aggregate with a MAP-SIDE partial
    * — the corpus-sized scored stream reduces to one row per probe
    * before the exchange, instead of shuffling and sorting every scored
    * pair (the window plan). Tie semantics identical to the window
    * (`score desc, neighbor_id asc`).
    *
    * The probe set MUST be bounded: the scoring join has no equi-key
    * to shuffle on, so there is no over-cap fallback — the guard fails
    * fast with the measured size instead of letting the broadcast OOM
    * the executors.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      metric: (Column, Column) => Column = dotCol,
      maxBroadcastProbes: Long = MaxBroadcastProbes): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val nProbes = boundedCount(probes, maxBroadcastProbes)
    require(nProbes <= maxBroadcastProbes,
      s"bruteForceTopK probe set exceeds $maxBroadcastProbes rows (> " +
        s"$nProbes): the keyless scoring join only exists broadcast — " +
        "use lshTopK/ivfTopK (bucketed, shuffle-joinable) or " +
        "ivfSelfTopK for corpus-sized probe sets")
    // corpus side spread before the keyless scoring join: the dot
    // stream runs at the corpus scan's parallelism, so a one-split
    // corpus would score every probe on one task (measured r8: the
    // 4M-pair self-exhaustive scoring stage ran 1-2 tasks on 32 cores)
    val joined = graft.spark.Scans.spread(corpus, col("vec_id")).as("c")
      .join(broadcast(probes.as("p")),
        col("c.vec_id") =!= col("p.vec_id"))
      .select(
        col("p.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        metric(col("p.embedding"), col("c.embedding")).as("score"))
    if (k == 1) {
      joined.groupBy("query_id")
        .agg(max(struct(col("score"), (-col("neighbor_id")).as("neg"),
          col("neighbor_id").as("nid"))).as("b"))
        .select(col("query_id"), col("b.nid").as("neighbor_id"),
          col("b.score").as("score"), lit(1).as("rk"))
    } else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)
      joined.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    }
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim).
    *
    * The raw FNV-1a hash is finalized through splitmix64 before the
    * (-1, 1) mapping: FNV-1a over short STRUCTURED keys ("srp:b:d",
    * differing in one digit) has almost no cross-key avalanche — the
    * unfinalized plane rows measured pairwise-correlated at exactly
    * ±1, i.e. the "nBits hyperplanes" were one effective hyperplane
    * and bucket count saturated near 20 at ANY nBits (making the
    * bucketed path silently quadratic at scale). With the finalizer
    * the rows are independent and occupancy follows 2^-nBits;
    * SrpPlaneSpec pins both properties. (MinHash/SimHash are
    * unaffected: they hash DIVERSE text, FNV's designed use, and
    * MinHash re-mixes through its a*x+b permutations.)
    */
  private def planeComponent(bit: Int, dim: Int): Double = {
    val h = graft.functions.Fnv1a64.hashString(s"srp:$bit:$dim")
    // splitmix64 finalizer (public-domain constants)
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // map to (-1, 1)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Hyperplane matrix for (nBits, dim), memoized per executor — the
    * components are FNV hashes, far too slow to recompute per row.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private def planes(nBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      Array.tabulate(b, d)(planeComponent)
    })

  private val planeNormCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  private def planeNorms(nBits: Int, dim: Int): Array[Double] =
    planeNormCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      planes(b, d).map(row => math.sqrt(row.map(x => x * x).sum))
    })

  /** The SRP hyperplane matrix, exposed read-only for the DuckDB oracle
    * generator: the planes are algorithm CONSTANTS (any fixed matrix
    * defines a valid SRP family, like the 0.85 damping factor), so the
    * oracle embeds them as double literals and independently recomputes
    * every signature, bucket join, score, and rank in SQL.
    */
  def srpPlanes(nBits: Int, dim: Int): Array[Array[Double]] =
    planes(nBits, dim).map(_.clone())

  /** Per-plane L2 norms (the margin denominators of
    * [[srpProbeBuckets]]), exposed for the multi-probe oracle
    * generator the same way as [[srpPlanes]].
    */
  def srpPlaneNorms(nBits: Int, dim: Int): Array[Double] =
    planeNorms(nBits, dim).clone()

  /** The ONE sign-projection loop both the bucketing and the probing
    * paths share — a second copy of the hashing scheme diverging from
    * the first would silently put probes in different buckets than the
    * corpus. `margins` (when non-null) receives the TRUE point-to-
    * hyperplane distances |v.p| / ||p|| — the generated planes are not
    * unit rows, so an unnormalized |v.p| would bias flip ordering
    * toward small-norm hyperplanes.
    */
  private def projectSig(v: Array[Float], nBits: Int,
      margins: Array[Double]): Int = {
    val pl = planes(nBits, v.length)
    val norms = if (margins == null) null else planeNorms(nBits, v.length)
    var sig = 0
    var b = 0
    while (b < nBits) {
      val row = pl(b)
      var s = 0.0
      var d = 0
      while (d < v.length) { s += v(d) * row(d); d += 1 }
      if (s > 0) sig |= (1 << b)
      if (margins != null) margins(b) = math.abs(s) / norms(b)
      b += 1
    }
    sig
  }

  /** Signed-random-projection bucket id (nBits-bit signature). */
  def srpSignature(vec: Seq[Float], nBits: Int): Int =
    projectSig(vec.toArray, nBits, null)

  /** SRP signature over Catalyst array data — the entry point of the
    * native `srp_sig` expression ([[graft.functions.SrpSig]]; callable
    * from generated code): the SAME memoized hyperplanes and the same
    * left-to-right float*double accumulation as [[srpSignature]]
    * (bit-identical sums -> identical signs -> identical buckets), but
    * reading floats straight out of the unsafe array — no boxed
    * `Seq[Float]` per row. A null ELEMENT reads as 0.0f here (Catalyst
    * array accessor semantics) where the UDF path would have thrown;
    * embeddings with null components are malformed input either way.
    */
  def srpSignatureData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      nBits: Int): Int = {
    val dim = v.numElements()
    val pl = planes(nBits, dim)
    var sig = 0
    var b = 0
    while (b < nBits) {
      val row = pl(b)
      var s = 0.0
      var d = 0
      while (d < dim) { s += v.getFloat(d) * row(d); d += 1 }
      if (s > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** Multi-probe bucket set: the base SRP bucket first, then the
    * buckets reached by flipping each of the `extra` LOWEST-MARGIN
    * bits — the hyperplanes the vector sits closest to, i.e. the bits
    * most likely to differ for a true near neighbor (standard
    * multi-probe LSH: the recall of a wider signature without the
    * candidate blowup of a shorter one; probe-side only, the corpus
    * stays bucketed once).
    */
  def srpProbeBuckets(vec: Seq[Float], nBits: Int, extra: Int): Array[Int] = {
    val margins = new Array[Double](nBits)
    val sig = projectSig(vec.toArray, nBits, margins)
    val order = margins.zipWithIndex.sortBy(_._1).map(_._2)
    val n = math.min(extra, nBits)
    val out = new Array[Int](1 + n)
    out(0) = sig
    var i = 0
    while (i < n) { out(i + 1) = sig ^ (1 << order(i)); i += 1 }
    out
  }

  /** Row count, bounded by `cap`: schedules partitions incrementally
    * like `Dataset.take` (first 1, then 4x more per round) and stops as
    * soon as the running total exceeds `cap`, but counts INSIDE the
    * executors — one Long per partition returns to the driver, never
    * rows. Each partition's own scan also stops at cap+1, so one
    * giant partition costs O(cap) reads. Returns the exact count when
    * it is <= cap, otherwise some value > cap (callers only branch on
    * the threshold).
    */
  private[ops] def boundedCount(df: DataFrame, cap: Long): Long = {
    val rdd = df.select(lit(1).as("one")).queryExecution.toRdd
    val sc = df.sparkSession.sparkContext
    val total = rdd.getNumPartitions
    var counted = 0L
    var next = 0
    var batch = 1
    while (next < total && counted <= cap) {
      // Long arithmetic: at ~1e9+ partitions `next + batch` would wrap
      // Int-negative and spin the loop forever on empty partitions
      val upTo = math.min(total.toLong, next.toLong + batch).toInt
      val counts = sc.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          var c = 0L
          while (it.hasNext && c <= cap) { it.next(); c += 1 }
          c
        }, next until upTo)
      counted += counts.sum
      next = upTo
      batch = math.min(batch.toLong * 4, Int.MaxValue.toLong).toInt
    }
    counted
  }

  /** Fit the IVF coarse quantizer (spark.ml KMeans, fixed seed) on a
    * bounded sample of the corpus and broadcast its centroids — shared
    * by [[ivfTopK]] and [[ivfSelfTopK]].
    */
  private def fitQuantizer(spark: SparkSession, corpus: DataFrame,
      nlist: Int, seed: Long, maxTrain: Long)
      : org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] = {
    // null embeddings are filtered before the fit (one malformed row
    // must not kill the quantizer of a 10^12-row corpus; the same rows
    // null-propagate out of the search side — see ivfCellTopK)
    val toVec = udf((v: Seq[Float]) =>
      org.apache.spark.ml.linalg.Vectors.dense(v.map(_.toDouble).toArray))
    val kmeans = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
    // The coarse quantizer trains on a bounded sample: KMeans makes
    // maxIter full passes over its input, so fitting on the whole
    // corpus would dominate the query at scale. Sizing the sample
    // without a full-corpus count:
    //  1. a BOUNDED probe — boundedCount: take()-style INCREMENTAL
    //     partition scheduling (1 partition, then 4x more, ...) so a
    //     huge corpus answers from its first partition or two, but
    //     counting rows per partition inside the executors and
    //     returning one SCALAR per partition — neither the full-scan
    //     all-partitions job of limit(cap).count() (GlobalLimit still
    //     executes and shuffles every map task) nor take()'s transient
    //     multi-tens-of-MB driver array of Row objects. If the probe
    //     comes back under its cap, it IS the exact row count: small corpora
    //     train whole (even when skewed into few partitions), mid-size
    //     corpora get a seeded uniform Bernoulli sample of a now-known
    //     fraction — no storage-order bias;
    //  2. only corpora beyond 4*maxTrain rows (where any exact count
    //     is a real scan) fall back to a partition-STRATIFIED take:
    //     the first ceil(maxTrain/P) rows of each of the P partitions
    //     (narrow, short-circuiting). At that scale P is large (100 TB
    //     ~ 10^5-10^6 files), so the sample spans the whole corpus
    //     with ~rows-per-file granularity rather than being the
    //     sample(f).limit(n) GlobalLimit prefix; when P alone exceeds
    //     maxTrain, the known fraction maxTrain/P Bernoulli-trims the
    //     per-partition singletons.
    val vecs = corpus.filter(col("embedding").isNotNull)
      .select(toVec(col("embedding")).as("features"))
    val probeCap = math.min(4L * math.max(1L, maxTrain),
      (Int.MaxValue - 2).toLong).toInt
    val probed: Long = boundedCount(vecs, probeCap)
    val trainSrc =
      if (probed <= maxTrain) vecs
      else if (probed <= probeCap)  // probed == exact corpus count
        vecs.sample(withReplacement = false,
          math.min(1.0, maxTrain.toDouble / probed * 1.05), seed)
      else {
        val parts = math.max(1, vecs.rdd.getNumPartitions)
        val perPart = math.min((maxTrain + parts - 1) / parts,
          Int.MaxValue.toLong).toInt.max(1)
        val strat = vecs.sparkSession.createDataFrame(
          vecs.rdd.mapPartitions(_.take(perPart)), vecs.schema)
        if (parts <= maxTrain) strat
        else strat.sample(withReplacement = false,
          maxTrain.toDouble / parts, seed)
      }
    val model = kmeans.fit(trainSrc)
    val centroids: Array[Array[Double]] = model.clusterCenters.map(_.toArray)
    spark.sparkContext.broadcast(centroids)
  }

  /** argmin ||v - c||^2 = argmax (v.c - |c|^2/2); primitive loops and
    * primitive partial selection — this runs once per corpus vector,
    * so no boxing/sorting allocations.
    */
  private[ops] def nearestCells(cs: Array[Array[Double]], v: Seq[Float],
      n: Int): Array[Int] = {
    val scores = new Array[Double](cs.length)
    var ci = 0
    while (ci < cs.length) {
      val c = cs(ci)
      var dot = 0.0; var nrm = 0.0; var d = 0
      while (d < c.length) {
        dot += v(d) * c(d); nrm += c(d) * c(d); d += 1
      }
      scores(ci) = dot - nrm / 2
      ci += 1
    }
    val k = math.min(n, cs.length)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](cs.length)
    var o = 0
    while (o < k) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < scores.length) {
        if (!taken(i) && scores(i) > bestScore) { best = i; bestScore = scores(i) }
        i += 1
      }
      taken(best) = true
      out(o) = best
      o += 1
    }
    out
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * (spark.ml KMeans, fixed seed, trained once and collected — the
    * centroid table is tiny) partitions the corpus into cells; each
    * probe searches only its `nprobe` nearest cells. This is the
    * standard billion-vector scale path: the corpus is scanned once to
    * assign cells (narrow), the probe side is broadcast, and the
    * verification join is bounded by cell sizes instead of going
    * quadratic.
    */
  /** Nearest-cell assignment over Catalyst array data — the entry point
    * of the native `ivf_cell` expression ([[graft.functions.IvfCell]];
    * callable from generated code). `cs` is the centroid table as a
    * nested array literal. EXACTLY the same accumulation order,
    * `dot - |c|^2/2` score, and first-max tie semantics as
    * [[nearestCells]] with n=1 (a diverging second copy would assign
    * corpus vectors and probes to different cells), but reading floats
    * straight from the unsafe arrays — no per-row Seq[Float] boxing on
    * the pass that touches every corpus vector.
    */
  def nearestCellData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cs: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val nCells = cs.numElements()
    var best = -1
    var bestScore = Double.NegativeInfinity
    var ci = 0
    while (ci < nCells) {
      val c = cs.getArray(ci)
      val dims = c.numElements()
      // unsafe array reads have NO runtime bounds check — a shorter
      // embedding (mixed-model corpus, truncated row) must fail fast
      // like the Seq-based path did, not read adjacent rows' bytes and
      // silently assign a garbage cell
      if (v.numElements() != dims)
        throw new IllegalArgumentException(
          s"ivf_cell: embedding dim ${v.numElements()} != centroid dim $dims")
      var dot = 0.0; var nrm = 0.0; var d = 0
      while (d < dims) {
        val cd = c.getDouble(d)
        dot += v.getFloat(d) * cd; nrm += cd * cd; d += 1
      }
      val score = dot - nrm / 2
      if (score > bestScore) { best = ci; bestScore = score }
      ci += 1
    }
    best
  }

  def ivfTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      k: Int, nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L,
      maxTrain: Long = 200000L,
      maxBroadcastProbes: Long = MaxBroadcastProbes,
      lloydIters: Option[Int] = None): DataFrame =
    ivfCellTopK(spark, corpus, Some(probes), k, nlist, nprobe, seed,
      maxTrain, None, maxBroadcastProbes, lloydIters)

  /** Deterministic coarse-quantizer fit: Lloyd's algorithm with a fixed
    * init (the `nlist` lowest-id vectors) and order-independent
    * centroid updates — per-dimension sums run through DECIMAL(38,15)
    * (exact, so the sum is parallelism-invariant), then the mean
    * divides that sum as a DOUBLE and rounds to `scale` decimals (a
    * deterministic function of the exact sum, though not itself exact
    * rational arithmetic) — so the fitted centroids are bit-identical
    * at any parallelism and fully replicable in SQL (the
    * `ann_ivf_topk` oracle replays every assignment and update in
    * DuckDB). spark.ml KMeans (the
    * [[fitQuantizer]] default) converges faster per pass but its
    * k-means|| init and float merge order are runtime-dependent; this
    * fit is the reproducibility-contract variant — the same trade the
    * engine's PageRank makes.
    *
    * Scale shape: each Lloyd round is ONE narrow corpus scan through
    * the native codegen `ivf_cell` assignment plus a map-side-combined
    * shuffle of (cell, dim) decimal partials — nlist x dim rows reach
    * the driver per round, never vectors. At 10^12 rows bound the
    * input the same way fitQuantizer samples (e.g. a deterministic
    * `vec_id % k = 0` slice) before calling; the fit itself never
    * collects corpus data.
    */
  def fitQuantizerLloyd(spark: SparkSession, corpus: DataFrame,
      nlist: Int, iters: Int, scale: Int = 9, idCol: String = "vec_id")
      : org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] = {
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.filter(col("embedding").isNotNull)
    // fixed deterministic init: the nlist smallest ids (a global top-k,
    // one narrow pass — TakeOrderedAndProject, no full sort)
    var cents: Array[Array[Double]] = c
      .select(col(idCol), col("embedding"))
      .orderBy(col(idCol)).limit(nlist)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray)
    require(cents.length == nlist,
      s"Lloyd quantizer needs >= $nlist non-null vectors, got ${cents.length}")
    for (_ <- 1 to iters) {
      val centroidsLit = typedlit(cents.map(_.toSeq).toSeq)
      val sums = c
        .select(call_function("ivf_cell", col("embedding"), centroidsLit)
          .as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(38, 15))).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        val cell = r.getInt(0)
        val pos = r.getInt(1)
        val s = r.getDecimal(2).doubleValue()
        val cnt = r.getLong(3)
        next(cell)(pos) = BigDecimal(s / cnt)
          .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      cents = next
    }
    spark.sparkContext.broadcast(cents)
  }

  /** Corpus-scale self k-NN join over the IVF cells: EVERY vector is a
    * probe, so nothing is broadcast — both sides shuffle on the cell
    * id (a shuffled hash / sort-merge join bounded by cell sizes).
    * This is the 100 TB semantic-dedup / retrieval-pair-mining shape:
    * the per-cell cost is O(nprobe * |cell|^2) and `nlist` controls
    * the quadratic term exactly like any IVF search; AQE's skew-join
    * split handles an oversized cell at runtime. A corpus vector lives
    * in exactly ONE cell, so a (query, neighbor) pair meets at most
    * once even with nprobe > 1 — no dedup pass needed before ranking.
    */
  def ivfSelfTopK(spark: SparkSession, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L,
      maxTrain: Long = 200000L,
      metrics: Option[org.apache.spark.sql.Observation] = None,
      lloydIters: Option[Int] = None): DataFrame =
    ivfCellTopK(spark, corpus, None, k, nlist, nprobe, seed, maxTrain, metrics,
      lloydIters = lloydIters)

  /** Shared IVF search core: probes broadcast when given (the bounded-
    * probe-set path), the corpus probing itself through a shuffle join
    * when not. One definition of the cell UDFs, the self-exclusion
    * predicate, the dot score, and the `score desc, neighbor_id asc`
    * tie order — [[ivfTopK]] and [[ivfSelfTopK]] may not drift apart.
    */
  private def ivfCellTopK(spark: SparkSession, corpus: DataFrame,
      probes: Option[DataFrame], k: Int, nlist: Int, nprobe: Int,
      seed: Long, maxTrain: Long,
      metrics: Option[org.apache.spark.sql.Observation] = None,
      maxBroadcastProbes: Long = MaxBroadcastProbes,
      lloydIters: Option[Int] = None): DataFrame = {
    // register on the input frames' OWN sessions too: call_function
    // resolves against the frame's session registry at analysis, which
    // in a multi-session app may differ from `spark` (the same reason
    // bruteForceTopK registers on corpus.sparkSession). NULL embedding
    // rows drop out of results on EVERY path: the corpus side
    // null-propagates through the native expressions into null
    // cells/buckets, the probe-side UDFs return zero cells/buckets
    // for null input (explode drops the row — matters doubly in the
    // self-join, where the corpus IS the probe side), and the
    // quantizer fit filters them. One malformed row must not kill a
    // 10^12-row job; validate embeddings upstream if absence must be
    // loud.
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    probes.foreach(p => graft.functions.GraftFunctions.register(p.sparkSession))
    val bc = lloydIters match {
      case Some(li) => fitQuantizerLloyd(spark, corpus, nlist, li)
      case None => fitQuantizer(spark, corpus, nlist, seed, maxTrain)
    }
    // corpus-side cell assignment through the native codegen ivf_cell
    // expression (centroids ride as a nested-array literal) — the one
    // pass that touches EVERY corpus vector pays no Seq[Float] boxing;
    // the probe side keeps the nprobe-cells UDF (bounded probe sets,
    // array return, and in the self-join case the corpus cells are
    // already the expression)
    val centroidsLit = typedlit(bc.value.map(_.toSeq).toSeq)
    // null guard: a null embedding probes ZERO cells (empty array →
    // explode drops the row), matching the corpus side's native
    // null-propagation — in the self-join the corpus IS the probe
    // side, so without this one malformed row would NPE the job
    val cellsUdf = udf((v: Seq[Float]) =>
      if (v == null) Array.empty[Int] else nearestCells(bc.value, v, nprobe))

    // (r8) The join on `cell` makes Catalyst infer IsNotNull(cell) and
    // push it below the projection — duplicating the ivf_cell
    // evaluation into a Filter, i.e. TWO assignment passes over every
    // corpus vector (visible in the r7 plan: ivf_cell in both Filter
    // and Project). Filtering null embeddings explicitly and wrapping
    // the key in coalesce(key, -1) makes the key non-nullable, so the
    // inferred IsNotNull constant-folds away and the assignment runs
    // ONCE per row. -1 is outside ivf_cell's 0..nlist-1 domain and the
    // explicit filter means the fallback never actually fires —
    // null-row semantics are unchanged (null embeddings drop out).
    // corpus spread across the cluster when its scan under-splits: the
    // cell-join's scoring stream otherwise runs at scan parallelism
    // (no-op at scale — see graft.spark.Scans). The self-join probe
    // side shares the spread frame so neither stream starves.
    val corpusS = graft.spark.Scans.spread(corpus, col("vec_id"))
    val cb = corpusS.filter(col("embedding").isNotNull).withColumn("cell",
      coalesce(call_function("ivf_cell", col("embedding"), centroidsLit),
        lit(-1)))
    val pbRaw = probes.getOrElse(corpusS)
      .withColumn("cell", explode(cellsUdf(col("embedding")))).as("p")
    // probe-side broadcast only while the bounded-probe contract
    // actually holds; past the cap the cell-keyed join shuffles both
    // sides (AQE picks the strategy) instead of OOMing on the build
    val pb =
      if (probes.exists(p => boundedCount(p, maxBroadcastProbes)
          <= maxBroadcastProbes)) broadcast(pbRaw)
      else pbRaw
    val joined = cb.as("c").join(pb,
        col("c.cell") === col("p.cell") &&
        col("c.vec_id") =!= col("p.vec_id"))
      .select(
        col("p.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        dotCol(col("p.embedding"), col("c.embedding")).as("score"))
    // skew telemetry at ZERO extra shuffle: an observe node on the
    // candidate stream counts the pairs the cell join actually scanned.
    // The self-join is quadratic per cell BY DESIGN (exact per-cell
    // ranking), so a degenerate cell shows up here as candidate_pairs
    // blowing past ~n*nprobe*avg_cell — the signal to raise nlist,
    // exactly like Dedup's (buckets, hot_buckets, max_bucket)
    val observed = metrics match {
      case None => joined
      case Some(obs) => joined.observe(obs,
        coalesce(count(lit(1)), lit(0L)).as("candidate_pairs"))
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    observed.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings with the IVF
    * coarse quantizer, connect within-cluster pairs with cosine ≥
    * `tau`, and elect the min-id member of each connected group as its
    * keeper. Returns (id, keeper) for EVERY input row — keeper == id
    * for uniques and null-embedding rows (a dedup filter must surface
    * clean docs, not drop them; `filter(id === keeper)` keeps one copy
    * per semantic group).
    *
    * Scale shape (the published algorithm's own cost model): cell
    * assignment is one narrow pass through the native codegen
    * `ivf_cell`; embeddings are unit-normalized ONCE per row (the
    * pair predicate is then a single dot product); the pair join
    * shuffles both sides on the cell id and is O(Σ|cell|²) — `nlist`
    * controls the quadratic term exactly as in [[ivfSelfTopK]], AQE
    * splits an oversized cell, and `metrics` observes the candidate
    * count as the raise-nlist signal. Keeper election reuses the
    * checkpointed GraphX CC core, whose output is proportional to the
    * DUPLICATED subset only.
    *
    * Approximation contract (same honesty as the ANN surfaces): a
    * cross-CLUSTER near-duplicate pair is not examined — that is
    * SemDeDup's documented trade — but EXACT duplicates always share
    * a cell (identical input → identical argmin), so the planted-twin
    * oracle is closed-form.
    */
  def semanticDedup(spark: SparkSession, corpus: DataFrame, tau: Double,
      nlist: Int = 16, seed: Long = 42L, maxTrain: Long = 200000L,
      maxIter: Int = 20, idCol: String = "vec_id",
      metrics: Option[org.apache.spark.sql.Observation] = None,
      lloydIters: Option[Int] = None): DataFrame = {
    // frame-session registration + null-row semantics: see ivfCellTopK
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val bc = lloydIters match {
      case Some(li) => fitQuantizerLloyd(spark, corpus, nlist, li,
        idCol = idCol)
      case None => fitQuantizer(spark, corpus, nlist, seed, maxTrain)
    }
    val centroidsLit = typedlit(bc.value.map(_.toSeq).toSeq)
    // unit-normalize via zip_with against array_repeat: the norm stays
    // in an ordinary argument position — evaluated once per ROW — with
    // only lambda variables inside the HOF (the repo's recurring
    // CollapseProject re-eval trap, engineered out the same way as the
    // ANN unit-normalization)
    val nrm = normCol(col("embedding"))
    val safe = when(nrm > 0, nrm).otherwise(lit(1.0))
    val unit = corpus.filter(col("embedding").isNotNull)
      .select(col(idCol).cast("long").as("id"),
        zip_with(col("embedding"),
          array_repeat(safe, size(col("embedding"))),
          (x, n) => (x / n).cast("float")).as("e"),
        // coalesce(cell, -1): kills the inferred IsNotNull(cell) the
        // cell self-join would otherwise push down as a SECOND
        // ivf_cell evaluation per row (see ivfCellTopK); unreachable
        // behind the isNotNull filter above
        coalesce(call_function("ivf_cell", col("embedding"), centroidsLit),
          lit(-1)).as("cell"))
    val a = unit.select(col("cell"), col("id").as("id_a"), col("e").as("e_a"))
    val b = unit.select(col("cell"), col("id").as("id_b"), col("e").as("e_b"))
    val pairs = a.join(b, "cell")
      .filter(col("id_a") < col("id_b") &&
        dotCol(col("e_a"), col("e_b")) >= tau)
      .select("id_a", "id_b")
    val observed = metrics match {
      case None => pairs
      case Some(obs) => pairs.observe(obs,
        coalesce(count(lit(1)), lit(0L)).as("dup_pairs"))
    }
    val keepers = Dedup.connectedKeepers(spark, observed, maxIter)
      .withColumnRenamed("doc_id", "id")
    corpus.select(col(idCol).cast("long").as("id"))
      .join(keepers, Seq("id"), "left")
      .select(col("id"), coalesce(col("keeper"), col("id")).as("keeper"))
  }

  /** LSH-bucketed top-k: corpus bucketed once by SRP signature; each
    * probe joins only its bucket. Recall grows with fewer bits /
    * multi-probe; the shuffle is bounded by bucket sizes.
    */
  /** Multi-TABLE SRP-LSH: `nTables` independent nBits-bit hash tables
    * — the standard LSH recall mechanism (a true neighbor pair is
    * missed only if it splits in EVERY table: miss rate p^L instead of
    * p). Complements [[lshTopK]]'s multi-PROBE mode (which widens the
    * search within one table); the two compose conceptually but are
    * kept as separate operators because their cost models differ —
    * multi-table multiplies corpus storage/shuffle by L, multi-probe
    * multiplies probe fan-out only.
    *
    * Scale shape: the corpus pays ONE narrow pass through the native
    * codegen `srp_sig` at nBits*nTables bits, then explodes to L
    * (table, bucket) rows per vector — bit-slicing the wide signature,
    * no second projection pass. Probes broadcast (guarded like every
    * ANN path); the join key is (table, bucket), so candidate volume
    * is Σ_t probes x bucket_t. A pair colliding in several tables
    * dedups before ranking. Fully hash-oracled
    * (`ann_lsh_multitable_topk`): the oracle slices the same wide
    * plane-literal signature per table in SQL.
    */
  def lshTopKTables(spark: SparkSession, corpus: DataFrame,
      probes: DataFrame, k: Int, nBits: Int = 6, nTables: Int = 4,
      maxBroadcastProbes: Long = MaxBroadcastProbes,
      metrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(nBits >= 1 && nTables >= 1 && nBits * nTables <= 30,
      s"wide signature nBits*nTables = ${nBits * nTables} must fit an INT")
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val wide = nBits * nTables
    val mask = (1 << nBits) - 1
    def slices(c: Column) = explode(array((0 until nTables).map { t =>
      struct(lit(t).as("t"),
        shiftright(c, t * nBits).bitwiseAND(lit(mask)).as("b"))
    }: _*))
    def keyed(df: DataFrame) = df
      .withColumn("sig", call_function("srp_sig", col("embedding"), lit(wide)))
      .withColumn("tb", slices(col("sig")))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.b").as("b"))
    val cb = keyed(corpus)
    val pbRaw = keyed(probes).as("p")
    // keyed() explodes each probe to nTables rows, so the broadcast
    // guard bounds rows AFTER the explosion: count against the cap
    // divided by the fan-out, not the raw probe count
    val probeCap = math.max(1L, maxBroadcastProbes / nTables)
    val pb =
      if (boundedCount(probes, probeCap) <= probeCap)
        broadcast(pbRaw)
      else pbRaw
    val joined = cb.as("c").join(pb,
        col("c.t") === col("p.t") && col("c.b") === col("p.b") &&
        col("c.vec_id") =!= col("p.vec_id"))
      .select(
        col("p.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        dotCol(col("p.embedding"), col("c.embedding")).as("score"))
    val observed = metrics match {
      case None => joined
      case Some(obs) => joined.observe(obs,
        coalesce(count(lit(1)), lit(0L)).as("candidate_pairs"))
    }
    // a pair can collide in several tables; one row before ranking
    val uniq = observed.dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    uniq.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Occupancy caveat (measured, BASELINE.md round 7): SRP bucket
    * sizes are bounded by the corpus GEOMETRY, not by 2^-nBits — every
    * member of a tight cluster projects with the same signs, so extra
    * bits cannot split it (observed: 40k vectors in 10 tight clusters
    * → 20 occupied buckets at nBits=10, max bucket 18k, ~5e8 candidate
    * pairs). On cluster-concentrated corpora use [[ivfTopK]] (the
    * quantizer subdivides clusters; its plant-scaled law measures
    * ~2x at 10x where SRP measures 20-80x). Pass `metrics` to observe
    * the candidate-pair count — the same raise-the-alarm signal as
    * [[ivfSelfTopK]].
    */
  def lshTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      k: Int, nBits: Int = 8, multiProbe: Int = 0,
      maxBroadcastProbes: Long = MaxBroadcastProbes,
      metrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // frame-session registration + null-row semantics: see ivfCellTopK
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    graft.functions.GraftFunctions.register(probes.sparkSession)
    // corpus bucketing through the native codegen srp_sig expression —
    // the UDF formulation boxed every embedding into a Seq[Float] on
    // the one pass that touches EVERY corpus vector; multi-probe stays
    // a UDF (probe-side only, bounded probe sets, returns an array)
    def sigCol(c: Column) = call_function("srp_sig", c, lit(nBits))
    // null guard: a null embedding probes zero buckets (empty array →
    // explode drops the row) instead of NPEing the multi-probe path
    val probeUdf = udf((v: Seq[Float]) =>
      if (v == null) Array.empty[Int] else srpProbeBuckets(v, nBits, multiProbe))
    // coalesce(sig, -1) after an explicit null filter: same
    // IsNotNull-constraint double-evaluation fix as ivfCellTopK — the
    // bucket join otherwise re-evaluates srp_sig in an inferred Filter
    // on the pass that touches every corpus vector. -1 is outside the
    // 0..2^nBits-1 signature domain and unreachable behind the filter.
    // spread only the one-bucket (nBits == 0, exhaustive) mode: its
    // scoring volume is probes x corpus, so the scan-parallelism floor
    // pays for its exchange; bucketed modes score ~2^-nBits of that
    // per probe and the extra exchange would cost more than it spreads
    // at the bucketed volume (measured r8: +0.4 s on sub-second
    // queries, -4 s on the exhaustive twin)
    val cbBase =
      if (nBits == 0) graft.spark.Scans.spread(corpus, col("vec_id"))
      else corpus
    val cb = cbBase.filter(col("embedding").isNotNull)
      .withColumn("bucket", coalesce(sigCol(col("embedding")), lit(-1)))
    val pb =
      if (multiProbe <= 0) probes.filter(col("embedding").isNotNull)
        .withColumn("bucket", coalesce(sigCol(col("embedding")), lit(-1)))
      else probes.withColumn("bucket", explode(probeUdf(col("embedding"))))
    // same guarded broadcast as the IVF core: the bucket equi-key
    // means an over-cap probe set degrades to a shuffle join, not OOM
    val pbMaybe =
      if (boundedCount(probes, maxBroadcastProbes) <= maxBroadcastProbes)
        broadcast(pb.as("p"))
      else pb.as("p")
    val joined = cb.as("c").join(pbMaybe,
        col("c.bucket") === col("p.bucket") &&
        col("c.vec_id") =!= col("p.vec_id"))
      .select(
        col("p.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        dotCol(col("p.embedding"), col("c.embedding")).as("score"))
    // candidate-volume telemetry at zero extra shuffle: a degenerate
    // bucket (see the occupancy caveat above) surfaces here as
    // candidate_pairs blowing past ~probes x expected-bucket
    val observed = metrics match {
      case None => joined
      case Some(obs) => joined.observe(obs,
        coalesce(count(lit(1)), lit(0L)).as("candidate_pairs"))
    }
    // a probe can reach the same neighbor through several probed
    // buckets; dedupe before ranking (single-probe pairs are unique
    // by construction — no shuffle spent on them)
    val uniq = if (multiProbe <= 0) observed
      else observed.dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    uniq.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
