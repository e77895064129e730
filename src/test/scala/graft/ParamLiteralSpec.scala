package graft

import java.time.{Instant, LocalDate, LocalDateTime}

import graft.plans.ParamLiteral
import graft.table.ManifestTable
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Laws of the parameterised-literal rule (graft.plans.ParamLiterals):
  * queries that differ only in their comparison constants reuse their
  * compiled classes, and every rewritten type answers exactly as a Scala
  * reference filter over the collected rows. */
class ParamLiteralSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"param_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Classes compiled (codegen cache misses) while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case q: ParamLiteral => q })

  test("needle reads, AS-OF range reads and copy-on-write DML with fresh " +
    "constants compile no class after one warm-up") {
    import spark.implicits._
    val dir = freshDir("reuse")
    ManifestTable.create(spark, dir,
      (1L to 4000L).map(i => (i, s"v$i", i % 7)).toDF("k", "v", "g")
        .repartitionByRange(8, col("k")), statsCols = Seq("k"))
    val v0 = ManifestTable.snapshot(spark, dir).version
    def needle(k: Long): Unit = {
      val rows = ManifestTable.read(spark, dir, col("k") === k).collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(k))
    }
    def asOf(lo: Long): Unit = {
      val n = ManifestTable.readVersion(spark, dir, v0)
        .where(col("k").between(lo, lo + 50)).collect().length
      assert(n == 51)
    }
    def dml(lo: Long): Unit = {
      ManifestTable.delete(spark, dir, col("k").between(lo, lo + 9))
      ManifestTable.update(spark, dir, col("k").between(lo + 100, lo + 109),
        Map("g" -> (col("g") + 1)))
    }
    // warm-up: the first of each shape compiles its classes
    needle(7L); asOf(11L); dml(2000L)
    val reads = compiles {
      (1 to 20).foreach(i => needle(i * 97L))
      (1 to 20).foreach(i => asOf(i * 113L))
    }
    assert(reads == 0, s"40 reads with fresh constants compiled $reads classes")
    val writes = compiles(dml(3000L))
    assert(writes == 0, s"a delete and an update with fresh bounds compiled $writes classes")
    assert(ManifestTable.read(spark, dir).count() == 4000L - 20L)
  }

  test("every rewritten type answers as a Scala reference: NaN, -0.0, " +
    "Long.MinValue, extreme dates and timestamps, IN lists, NOT, " +
    "COALESCE and CASE WHEN") {
    // collected dates and timestamps as java.time values, which carry
    // proleptic-calendar extremes without a rebase
    val java8 = "spark.sql.datetime.java8API.enabled"
    val prior = spark.conf.getOption(java8)
    spark.conf.set(java8, "true")
    try {
      val schema = StructType(Seq("id" -> LongType, "b" -> ByteType,
        "s" -> ShortType, "i" -> IntegerType, "l" -> LongType,
        "f" -> FloatType, "d" -> DoubleType, "dt" -> DateType,
        "ts" -> TimestampType, "tn" -> TimestampNTZType)
        .map { case (n, t) => StructField(n, t, nullable = n != "id") })
      val dMin = LocalDate.of(1, 1, 1)
      val dMax = LocalDate.of(9999, 12, 31)
      val tMin = Instant.parse("0001-01-01T00:00:00Z")
      val tMax = Instant.parse("9999-12-31T23:59:59.999999Z")
      val nMin = LocalDateTime.of(1, 1, 1, 0, 0)
      val nMax = LocalDateTime.of(9999, 12, 31, 23, 59, 59, 999999000)
      val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, Double.MaxValue,
        Double.MinValue, Double.PositiveInfinity, Double.NegativeInfinity)
      val longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, 42L)
      val dates = Seq(dMin, dMax, LocalDate.of(1970, 1, 1), LocalDate.of(1582, 10, 4))
      val stamps = Seq(tMin, tMax, Instant.EPOCH, Instant.parse("2024-02-29T12:00:00Z"))
      val ntzs = Seq(nMin, nMax, LocalDateTime.of(1970, 1, 1, 0, 0))
      val data = (0 until 40).map { n =>
        def pick[T](xs: Seq[T]): Any = if (n % 11 == 10) null else xs(n % xs.size)
        Row(n.toLong, pick(Seq[Byte](Byte.MinValue, Byte.MaxValue, 0, 7)),
          pick(Seq[Short](Short.MinValue, Short.MaxValue, 0, 7)),
          pick(Seq(Int.MinValue, Int.MaxValue, 0, 3, 5, 7, 9)), pick(longs),
          pick(doubles.map(_.toFloat)), pick(doubles),
          pick(dates), pick(stamps),
          pick(ntzs))
      }
      val path = freshDir("types") + "/t"
      spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
        .write.parquet(path)
      val df = spark.read.parquet(path)
      val rows = df.collect().map(r => r.getLong(0) -> r).toMap
      val seen = scala.collection.mutable.Set.empty[DataType]

      // Spark's float/double order: -0.0 = 0.0, NaN = NaN and above all
      def cmp(x: Double, y: Double): Int =
        if (x == y) 0 else java.lang.Double.compare(x, y)
      def num(r: Row, c: String): Option[Double] = Option(r.getAs[Any](c)).map {
        case v: java.lang.Number => v.doubleValue
      }
      def at[T](r: Row, c: String): Option[T] = Option(r.getAs[T](c))

      def checkFilter(pred: Column, ref: Row => Boolean): Unit = {
        val q = df.where(pred).select("id")
        val got = q.collect().map(_.getLong(0)).toSet
        seen ++= params(q.queryExecution.executedPlan).map(_.dataType)
        val want = rows.collect { case (id, r) if ref(r) => id }.toSet
        assert(got == want, s"$pred: got ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
      }
      def checkProject(e: Column, ref: Row => Any): Unit = {
        val q = df.select(col("id"), e.as("x"))
        val got = q.collect().map(r => r.getLong(0) -> r.get(1)).toMap
        seen ++= params(q.queryExecution.executedPlan).map(_.dataType)
        val want = rows.map { case (id, r) => id -> ref(r) }
        assert(got == want, s"$e differs on ids " +
          got.keys.filter(k => got(k) != want(k)).toSeq.sorted.mkString(","))
      }

      checkFilter(col("d") === Double.NaN, r => num(r, "d").exists(_.isNaN))
      checkFilter(col("d") === -0.0, r => num(r, "d").exists(cmp(_, -0.0) == 0))
      checkFilter(col("d") > -0.0, r => num(r, "d").exists(cmp(_, 0.0) > 0))
      checkFilter(col("d") <= Double.NegativeInfinity,
        r => num(r, "d").exists(_ == Double.NegativeInfinity))
      checkFilter(col("f") < 1.5f, r => num(r, "f").exists(cmp(_, 1.5) < 0))
      checkFilter(col("f") >= Float.NaN, r => num(r, "f").exists(_.isNaN))
      checkFilter(col("l") === Long.MinValue, r => at[Long](r, "l").contains(Long.MinValue))
      checkFilter(col("l") > Long.MinValue, r => at[Long](r, "l").exists(_ > Long.MinValue))
      checkFilter(col("b") >= lit(Byte.MinValue), r => at[Byte](r, "b").isDefined)
      checkFilter(col("b") < lit(7.toByte), r => at[Byte](r, "b").exists(_ < 7))
      checkFilter(col("s") <=> lit(Short.MaxValue),
        r => at[Short](r, "s").contains(Short.MaxValue))
      checkFilter(col("i").isin(3, 5, 7), r => at[Int](r, "i").exists(Set(3, 5, 7)))
      val ten = Seq(Int.MinValue, 3, 9, 11, 13, 15, 17, 19, 21, Int.MaxValue)
      checkFilter(col("i").isin(ten: _*), r => at[Int](r, "i").exists(ten.toSet))
      checkFilter(col("l").isin(longs.take(3): _*),
        r => at[Long](r, "l").exists(longs.take(3).toSet))
      checkFilter(col("dt") === lit(dMin), r => at[LocalDate](r, "dt").contains(dMin))
      checkFilter(col("dt") > lit(LocalDate.of(9999, 12, 30)),
        r => at[LocalDate](r, "dt").contains(dMax))
      checkFilter(col("ts") <= lit(tMin), r => at[Instant](r, "ts").contains(tMin))
      checkFilter(col("ts") >= lit(tMax), r => at[Instant](r, "ts").contains(tMax))
      checkFilter(col("tn") === lit(nMax), r => at[LocalDateTime](r, "tn").contains(nMax))
      checkFilter(col("tn") < lit(LocalDateTime.of(1970, 1, 1, 0, 0)),
        r => at[LocalDateTime](r, "tn").contains(nMin))
      checkFilter(!(col("i") > 5), r => at[Int](r, "i").exists(_ <= 5))
      checkFilter(coalesce(col("d") < 0.0, col("l") === 42L),
        r => num(r, "d") match {
          case Some(d) => cmp(d, 0.0) < 0
          case None => at[Long](r, "l").contains(42L)
        })

      // projections keep NOT / COALESCE / CASE WHEN with their nulls
      checkProject(!(col("i") > 5), r => at[Int](r, "i").map(i => (i <= 5): Any).orNull)
      checkProject(coalesce(col("l") < 0L, lit(false)),
        r => at[Long](r, "l").exists(_ < 0L))
      checkProject(when(col("d") === Double.NaN, 1).when(col("dt") < lit(dMax), 2)
        .when(col("ts") > lit(Instant.EPOCH), 3).otherwise(0),
        r => if (num(r, "d").exists(_.isNaN)) 1
          else if (at[LocalDate](r, "dt").exists(_.isBefore(dMax))) 2
          else if (at[Instant](r, "ts").exists(_.isAfter(Instant.EPOCH))) 3
          else 0)

      assert(seen.toSet == Set[DataType](ByteType, ShortType, IntegerType,
        LongType, FloatType, DoubleType, DateType, TimestampType,
        TimestampNTZType), s"rewritten types: $seen")
    } finally prior.fold(spark.conf.unset(java8))(spark.conf.set(java8, _))
  }
}
