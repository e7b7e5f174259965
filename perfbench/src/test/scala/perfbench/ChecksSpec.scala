package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every check the benchmark runs must pass on the right result and report
  * a failure on a wrong one.
  */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val gen = Gen(seed = 7, k = 100)

  test("Gen.row is the row Gen.frame makes, with and without a salt") {
    for ((start, salt) <- Seq((0L, 0L), (987654L, 0L), (5000L, 3L), (2000000L, 1042L))) {
      val fromSpark = gen.frame(spark, start, 300, lit(salt)).collect().map(_.toSeq).toSeq
      val jvm = (start until start + 300).map(gen.row(_, salt))
      assert(fromSpark == jvm, s"rows from $start with salt $salt")
    }
  }

  test("digestOf on the JVM equals digest in Spark") {
    val df = gen.frame(spark, 100, 2000).withColumn("w", col("v2") * col("v3"))
    val rows = df.collect().map(_.toSeq).toSeq
    val jvm = Checks.digestOf(df.columns.toSeq, Set("v3", "w"), rows)
    assert(Checks.compare("jvm vs spark", jvm, Checks.digest(df)).isEmpty)
    assert(Checks.compare("missing row", Checks.digestOf(df.columns.toSeq, Set("v3", "w"), rows.tail),
      Checks.digest(df)).nonEmpty)
  }

  test("digest: equal frames match; a changed row, value or key is reported") {
    val good = gen.frame(spark, 0, 1000)
    val d = Checks.digest(good)
    assert(Checks.compare("same", Checks.digest(good.repartition(3)), d).isEmpty)
    assert(Checks.compare("missing row", Checks.digest(good.filter(col("ts") =!= Gen.ts(5))), d).nonEmpty)
    assert(Checks.compare("wrong int", Checks.digest(good.withColumn("v2",
      when(col("ts") === Gen.ts(5), col("v2") + 1).otherwise(col("v2")))), d).nonEmpty)
    assert(Checks.compare("wrong double", Checks.digest(good.withColumn("v3",
      when(col("ts") === Gen.ts(5), col("v3") + 1e-3).otherwise(col("v3")))), d).nonEmpty)
    assert(Checks.compare("wrong string", Checks.digest(good.withColumn("id1",
      when(col("ts") === Gen.ts(5), lit("x")).otherwise(col("id1")))), d).nonEmpty)
  }

  test("digest: a double attached to the wrong key is reported") {
    import spark.implicits._
    val right = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "x")
    val swapped = Seq(("a", 2.0), ("b", 1.0)).toDF("k", "x")
    assert(Checks.compare("swap", Checks.digest(swapped), Checks.digest(right)).nonEmpty)
  }

  test("digest: doubles summed in another order still match") {
    import spark.implicits._
    val xs = (1 to 1000).map(i => 0.1 * i + 1e-7 * (i % 7))
    val a = xs.toDF("x").agg(sum("x").as("s"))
    val b = xs.reverse.toDF("x").repartition(4).agg(sum("x").as("s"))
    assert(Checks.compare("order", Checks.digest(a), Checks.digest(b)).isEmpty)
  }

  test("sameRows: order-insensitive; a missing row or wrong value is reported") {
    val rows = gen.frame(spark, 0, 50).collect().map(_.toSeq).toSeq
    assert(Checks.sameRows("same", rows.reverse, rows).isEmpty)
    assert(Checks.sameRows("missing", rows.tail, rows).nonEmpty)
    val bent = rows.head.updated(9, rows.head(9).asInstanceOf[Double] + 1e-6) +: rows.tail
    assert(Checks.sameRows("double", bent, rows).nonEmpty)
    val renamed = rows.head.updated(1, "nope") +: rows.tail
    assert(Checks.sameRows("string", renamed, rows).nonEmpty)
  }

  test("daily reports: the generator-side expectation rejects a wrong report") {
    val rows = gen.frame(spark, 0, Gen.DayRows).collect().map(_.toSeq).toSeq
    val hourly = DailyIngest.hourly(rows)
    assert(hourly.size == 24)
    assert(Checks.sameRows("hourly", hourly, hourly).isEmpty)
    val off = hourly.head.updated(3, 61L) +: hourly.tail
    assert(Checks.sameRows("hourly count", off, hourly).nonEmpty)
    val ids = DailyIngest.byId6(rows)
    assert(ids.map(_(2).asInstanceOf[Long]).sum == rows.map(_(8).asInstanceOf[Int].toLong).sum)
    assert(Checks.sameRows("id6", ids.tail, ids).nonEmpty)
  }

  test("version and row-count checks") {
    assert(Checks.nextVersion("append", 4, 5).isEmpty)
    assert(Checks.nextVersion("append", 4, 6).nonEmpty)
    assert(Checks.nextVersion("append", 4, 4).nonEmpty)
    assert(Checks.versions("sym", 0 to 3, 3).isEmpty)
    assert(Checks.versions("sym", Seq(0, 1, 3), 3).nonEmpty)
    assert(Checks.versions("sym", 0 to 2, 3).nonEmpty)
    assert(Checks.rowCount("sym", 10, 10).isEmpty)
    assert(Checks.rowCount("sym", 9, 10).nonEmpty)
  }
}
