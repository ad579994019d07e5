package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused equivalence tests for the r06 optimization internals: the
  * literal-weight hyperplane buckets, the precomputed-norm cosine, and
  * the no-fork local filesystem must all be BIT-identical / semantically
  * identical to the formulations they replaced (the driver's oracle gate
  * depends on exact doubles). */
class OptimizedInternalsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def randVecs(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("id", "v")
  }

  test("literal plane weights reproduce the per-row hash-derived bucket exactly") {
    val v = randVecs(100, 9, 11)
    val planes = 5
    val viaHash = v.select(col("id"),
      Similarity.bucketExpr(col("v"), planes).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Similarity.planeWeights(planes, 9)
    val viaWeights = v.select(col("id"),
      Similarity.bucketExprW(col("v"), w).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaHash == viaWeights)
  }

  test("driver-side localBucket matches the Spark-evaluated bucket of the same vector") {
    val rnd = new scala.util.Random(13)
    val q = Array.fill(7)(rnd.nextGaussian())
    // a NaN element makes every plane product NaN, which Spark orders
    // above every value (sign bit 1)
    val qNaN = q.updated(3, Double.NaN)
    val planes = 6
    val w = Similarity.planeWeights(planes, 7)
    for (v <- Seq(q, qNaN)) {
      val sparkBucket = spark.range(1)
        .select(Similarity.bucketExpr(array(v.map(lit): _*), planes).as("b"))
        .head().getLong(0)
      assert(Similarity.localBucket(v, w) == sparkBucket, v.mkString(","))
    }
  }

  test("lshTopK with a query longer than the corpus dimension still completes") {
    // weight(p, i) depends only on (p, i): the query bucket is computed
    // with a table sized by the query's own length, so a dimension
    // mismatch must not throw (the old per-row expression completed too)
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val emb = (1L to 40L).map(i => (i, Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val rows = Similarity.lshTopK(emb, "vec_id", "embedding", q, 5, planes = 3).collect()
    assert(rows.length <= 5) // completes; probe ball may or may not match
  }

  test("normExpr + cosineWithNorms are bit-identical to the one-shot cosine") {
    val rnd = new scala.util.Random(17)
    val v = randVecs(60, 8, 17)
    val q = Array.fill(8)(rnd.nextGaussian())
    val qArr = array(q.map(lit): _*)
    val oneShot = v.select(col("id"), Similarity.cosine(col("v"), qArr).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val split = v.withColumn("nrm", Similarity.normExpr(col("v")))
      .select(col("id"), Similarity.cosineWithNorms(col("v"), qArr,
        col("nrm"), lit(Similarity.localNorm(q))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // BIT identity, not approximate: same fold order, same operand order
    oneShot.foreach { case (id, c) =>
      assert(java.lang.Double.doubleToRawLongBits(c) ==
        java.lang.Double.doubleToRawLongBits(split(id)), s"id=$id $c vs ${split(id)}")
    }
    // zero-norm guard preserved
    import spark.implicits._
    val z = Seq((9L, Array(0.0, 0.0))).toDF("id", "v")
      .withColumn("nrm", Similarity.normExpr(col("v")))
    val zc = z.select(Similarity.cosineWithNorms(col("v"), array(lit(1.0), lit(0.0)),
      col("nrm"), lit(1.0)).as("c")).head().getDouble(0)
    assert(zc == 0.0)
  }

  test("localNorm equals the Spark-evaluated normExpr of the literal vector") {
    val rnd = new scala.util.Random(19)
    val q = Array.fill(12)(rnd.nextGaussian())
    val sparkNorm = spark.range(1)
      .select(Similarity.normExpr(array(q.map(lit): _*)).as("n")).head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(Similarity.localNorm(q)) ==
      java.lang.Double.doubleToRawLongBits(sparkNorm))
  }

  test("FastLocalFileSystem writes are readable and carry the standard permissions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fastfs").toString
    try {
      val df = (1L to 50L).map(i => (i, i % 5)).toDF("id", "part")
      df.repartition(col("part")).write.partitionBy("part")
        .options(graft.util.FastLocalFs.writeOptions)
        .mode("overwrite").parquet(dir)
      // the partition column comes back type-inferred (int), hence getAs[Number]
      val back = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
      assert(back == (1L to 50L).map(i => (i, i % 5)).toSet)
      // the partition dirs exist and files are owner-readable/writable
      val sub = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part="))
      assert(sub.length == 5)
      sub.foreach { d => assert(d.canRead && d.canExecute) }
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
