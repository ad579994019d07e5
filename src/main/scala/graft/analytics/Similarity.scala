package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale notes: brute-force top-k is one scan + TakeOrdered (no shuffle of
  * the corpus); the IVF variant prunes the scan to the query's nearest
  * coarse cells, turning a full scan into a partition-pruned one — the
  * standard big-data ANN layout (cells = cluster centroids; here
  * deterministic hash-plane cells, since no training loop is available). */
object Similarity {

  /** Cosine similarity of two array<double> columns (codegen'd
    * higher-order functions; sequential left-fold accumulation). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x))
    when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))
  }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm of an array<double> column — the exact subexpression
    * [[cosine]] computes per side, split out so callers can evaluate it
    * ONCE per row (in its own projection / before a self-join) instead of
    * twice per cosine call (`when` condition + divisor). Keeping the
    * identical fold order makes the result bit-identical. */
  def normExpr(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** [[cosine]] with both norms precomputed: dot is the only per-pair
    * array fold left. Bit-identical to [[cosine]] (same operand order in
    * the `na * nb` product and the zero guard). */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, 0.0).otherwise(dot(a, b) / (na * nb))

  /** Driver-side twin of [[normExpr]] over a literal query vector: the
    * same left-fold sum of squares (identical IEEE sequence), so
    * `lit(localNorm(q))` replaces a per-row re-evaluation of the norm of
    * a constant array (which Catalyst does NOT constant-fold — r06 plan
    * audit: the query-norm aggregate appeared verbatim in the per-row
    * CASE of every ANN scan). */
  def localNorm(q: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < q.length) { acc += q(i) * q(i); i += 1 }
    math.sqrt(acc)
  }

  /** Driver-side evaluation of the hash-derived hyperplane weight
    * `pmod(xxhash64(concat_ws("_", p, i)), 2) * 2 - 1` — the same Spark
    * XxHash64 (seed 42) over the same "p_i" string the per-row expression
    * hashed, so a literal weight array replaces planes×dim string hashes
    * PER ROW with one driver-side table (guide §1.2: fix the per-task
    * work). Weights are ±1.0 doubles, exactly the value the old
    * `x * (pmod(xxhash64(..)) * 2 - 1)` multiplied by. */
  private[analytics] def planeWeights(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, i) =>
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"${p}_$i"),
          org.apache.spark.sql.types.StringType))).eval(null).asInstanceOf[Long]
      (java.lang.Math.floorMod(h, 2L) * 2L - 1L).toDouble
    }

  /** Sign-bucket id from literal weights: same fold order / zero rule as
    * [[bucketExpr]], applicable when every vector has exactly
    * `weights(p).length` elements (the [[uniformDim]] probe guards it). */
  private[analytics] def bucketExprW(vec: Column, weights: Array[Array[Double]]): Column =
    weights.zipWithIndex.map { case (w, p) =>
      val prod = aggregate(zip_with(vec, array(w.map(lit): _*), (x, ww) => x * ww),
        lit(0.0), (acc, x) => acc + x)
      when(prod >= 0, lit(1L)).otherwise(lit(0L)) * (1L << p)
    }.reduce(_ + _)

  /** Driver-side twin of one plane's sign under [[bucketExprW]] (same
    * left-fold), for computing a literal query bucket without a Spark job.
    * A NaN product counts as non-negative: Spark orders NaN above every
    * value, so `prod >= 0` is true for it. */
  private[analytics] def localBucket(q: Array[Double], weights: Array[Array[Double]]): Long =
    weights.zipWithIndex.map { case (w, p) =>
      var acc = 0.0
      var i = 0
      while (i < q.length) { acc += q(i) * w(i); i += 1 }
      (if (acc >= 0 || acc.isNaN) 1L else 0L) * (1L << p)
    }.sum

  /** The vectors' common dimension, or None when ragged/empty/zero-length
    * (callers then keep the per-row adaptive expressions). One tiny
    * aggregation job — repaid many times over by the literal-weight path. */
  private[analytics] def uniformDim(v: DataFrame, vecCol: String): Option[Int] = {
    val r = v.agg(min(size(col(vecCol))).as("mn"), max(size(col(vecCol))).as("mx")).head()
    if (r.isNullAt(0) || r.isNullAt(1) || r.getInt(0) != r.getInt(1) || r.getInt(0) <= 0) None
    else Some(r.getInt(0))
  }

  /** One corpus scan + TakeOrdered(k) against a literal query: the shared
    * tail of every ANN probe. The corpus norm is evaluated in its own
    * projection (once per row — CollapseProject will not inline a non-cheap
    * alias referenced twice) and the query norm is a driver-computed
    * literal, so the per-row work is ONE dot fold instead of five. */
  private def cosineTopK(v: DataFrame, query: Array[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val qn = lit(localNorm(query))
    v.withColumn("nrm", normExpr(col("v")))
      .select(col("id"), cosineWithNorms(col("v"), q, col("nrm"), qn).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Brute-force cosine top-k: one corpus scan, TakeOrdered(k) — the exact
    * baseline. `query` is a local vector (broadcast as literal array). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame =
    cosineTopK(emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
        query, k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cosine").desc, col("id"))).cast("long"))
      .select("rank", "id", "cosine")

  /** Sign-bucket (random-hyperplane) LSH top-k: only scans vectors whose
    * bucket is within `probes` hamming bits of the query's bucket —
    * the scale path (bucket == IVF cell; at 100 TB the table is
    * partitioned by bucket so pruning skips files). Approximate. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, planes: Int = 8): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // literal ±1 weights when the corpus dimension is uniform (the normal
    // case): replaces planes×dim string hashes PER ROW — for the corpus
    // bucket AND the query bucket, which Catalyst re-evaluated per row
    // despite being constant (r06 plan audit) — with small zip_with folds
    // and a driver-computed literal. Ragged corpora keep the old per-row
    // adaptive expressions (identical results either way).
    val (bucketCol, qBucket) = uniformDim(v, "v") match {
      case Some(dim) =>
        // weight(p, i) depends only on (p, i), so the query bucket uses a
        // table sized by the QUERY's own length — same values as the old
        // bucketExpr over the query's indices even if query and corpus
        // dimensions disagree
        (bucketExprW(col("v"), planeWeights(planes, dim)),
          lit(localBucket(query, planeWeights(planes, query.length))))
      case None =>
        val q = array(query.map(lit): _*)
        (bucketExpr(col("v"), planes), bucketExpr(q, planes))
    }
    val bucketed = v.withColumn("bucket", bucketCol)
    cosineTopK(
      bucketed
        .where(bit_count(col("bucket").bitwiseXOR(qBucket)) <= 1) // probe ball r=1
        .select(col("id"), col("v")),
      query, k)
  }

  private def planeSignExpr(vec: Column, p: Int): Column = {
    val prod = aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x * (pmod(xxhash64(concat_ws("_", lit(p), i)), lit(2)) * 2 - 1)),
      lit(0.0), (acc, x) => acc + x)
    when(prod >= 0, lit(1L)).otherwise(lit(0L))
  }

  /** Sign-bucket id of an embedding column. */
  def bucketExpr(vec: Column, planes: Int): Column =
    (0 until planes).map(p => planeSignExpr(vec, p) * (1L << p)).reduce(_ + _)

  /** Write the corpus PARTITIONED BY LSH bucket: the layout that makes
    * [[lshTopKBucketed]]'s probe a partition-PRUNED read (only the probe
    * ball's directories are listed/scanned) instead of a full-corpus scan
    * with a post-filter. At 100 TB this is the difference between reading
    * ~(probes/2^planes) of the table and reading all of it. */
  def writeBucketed(emb: DataFrame, idCol: String, vecCol: String,
      path: String, planes: Int = 8): Unit = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val bucketCol = uniformDim(v, "v") match {
      case Some(dim) => bucketExprW(col("v"), planeWeights(planes, dim))
      case None => bucketExpr(col("v"), planes)
    }
    // repartition by the partition column: each bucket's rows land in one
    // task, so the 2^planes directory files are written in parallel instead
    // of one task sequentially opening every bucket's writer (guide §6
    // output-layout note; same rows per directory, so reads are unchanged)
    v.withColumn("bucket", bucketCol)
      .repartition(col("bucket"))
      .write.partitionBy("bucket")
      .options(graft.util.FastLocalFs.writeOptions) // no chmod fork per file
      .mode("overwrite").parquet(path)
  }

  /** LSH top-k over the bucket-partitioned layout: the probe-ball filter
    * lands on the `bucket` PARTITION column, so the scan reads only the
    * matching bucket directories (check `.explain`: PartitionFilters).
    * Same result set as [[lshTopK]] with the same planes/ball. */
  def lshTopKBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Double], k: Int, planes: Int = 8, hammingBall: Int = 1): DataFrame = {
    // the query's bucket is a literal: evaluate it on the driver (the
    // localBucket fold is the exact arithmetic of the bucket expression,
    // so no Spark job is needed for it)
    val qBucket = localBucket(query, planeWeights(planes, query.length))
    // enumerate the probe ball as explicit partition values -> pruning is
    // a static IN-list over the partition column
    val ball = (0L until (1L << planes))
      .filter(b => java.lang.Long.bitCount(b ^ qBucket) <= hammingBall)
    cosineTopK(
      spark.read.parquet(path)
        .where(col("bucket").isin(ball: _*))
        .select(col("id"), col("v")),
      query, k)
  }

  /** Local cosine (driver-side probe planning). */
  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** IVF (inverted-file) coarse quantizer: k-means cells TRAINED on the
    * corpus instead of data-oblivious hash planes — cells adapt to the
    * embedding distribution, so populations stay balanced where hyperplane
    * buckets can skew badly on clustered data. Same layout contract as
    * [[writeBucketed]]: the corpus is written partitioned by cell id, so a
    * probe reads only its cells' directories (~nprobe/cells of the table).
    * Deterministic for a fixed seed and input — INCLUDING across
    * parallelism levels: the fit input is pinned to one id-sorted
    * partition, because k-means|| init sampling is partitioning-sensitive
    * and re-reads of the same parquet at different core counts would
    * otherwise shift the centroids (and near-tie top-k results) between
    * environments. The trained index is a BUILD step (run once, typically
    * on a corpus sample at 100 TB), so the single-partition fit is not on
    * any per-query path. Returns the centroids (driver-side, cells x dim —
    * a few KB) for probe planning. */
  def writeIvf(emb: DataFrame, idCol: String, vecCol: String, path: String,
      cells: Int = 64, seed: Long = 42L, maxIter: Int = 10): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val withFeat = v.withColumn("features", array_to_vector(col("v")))
    // (ml.KMeans persists an uncached input internally, so no extra cache
    // here — measured: an explicit .cache() only added a second
    // materialization pass on top of KMeans' own.) coalesce(1) +
    // in-partition sort produces the same single id-sorted partition the
    // old orderBy+coalesce pinned (ids are unique, partition concatenation
    // is deterministic), without the range-sampling job and its exchange.
    val model = new KMeans().setK(cells).setSeed(seed).setMaxIter(maxIter)
      .fit(withFeat.coalesce(1).sortWithinPartitions("id"))
    // repartition by the partition column: parallel per-cell file writes
    // (see writeBucketed; rows per directory unchanged)
    model.transform(withFeat)
      .select(col("id"), col("v"), col("prediction").as("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell")
      .options(graft.util.FastLocalFs.writeOptions) // no chmod fork per file
      .mode("overwrite").parquet(path)
    model.clusterCenters.map(_.toArray)
  }

  /** IVF top-k: rank the query against the driver-local centroids, read
    * ONLY the `nprobe` nearest cells (a static IN-list on the partition
    * column -> PartitionFilters pruning), exact cosine within them.
    * `nprobe == cells` degrades gracefully to the exact full scan. */
  def ivfTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Array[Array[Double]], query: Array[Double], k: Int,
      nprobe: Int = 4): DataFrame = {
    val probeCells = centroids.zipWithIndex
      .sortBy { case (c, i) => (-cosineLocal(c, query), i) }
      .take(math.max(1, nprobe)).map(_._2)
    cosineTopK(
      spark.read.parquet(path)
        .where(col("cell").isin(probeCells.toSeq: _*))
        .select(col("id"), col("v")),
      query, k)
  }

  /** All-pairs exact top-k neighbors for a SMALL id set (verification /
    * golden stage): ids x corpus, rank per id. */
  def topKForIds(emb: DataFrame, idCol: String, vecCol: String,
      ids: Seq[Long], k: Int): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val queries = v.where(col("id").isin(ids: _*))
      .select(col("id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    v.crossJoin(broadcast(queries))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosine(col("v"), col("qv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
