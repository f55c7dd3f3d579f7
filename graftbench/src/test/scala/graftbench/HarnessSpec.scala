package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    graft.Sessions.build(master = "local[2]", shufflePartitions = "4")

  /** Every value shape the fingerprint normalizes, with NULLs. */
  def sample(): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("s", StringType), StructField("arr", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", DoubleType))))))
    val rows = (0 until 200).map { i =>
      Row(i.toLong, if (i % 17 == 0) null else i * 0.1, if (i % 11 == 0) null else s"v${i % 7}",
        Seq(i * 0.5, 1.0 / (i + 1)), Map("k" -> i * 0.25, "j" -> -i.toDouble),
        Row(i % 3, i / 3.0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("fingerprint is invariant under row order and partition count") {
    val df = sample()
    val base = Fingerprint.of(df)
    assert(base.startsWith("200:"))
    assert(Fingerprint.of(df.orderBy(rand(7))) == base)
    assert(Fingerprint.of(df.repartition(7, col("s"))) == base)
    assert(Fingerprint.of(df.coalesce(1).orderBy(desc("id"))) == base)
  }

  test("fingerprint rounds away floating-point summation order") {
    val xs = spark.range(0, 20000).select((col("id") % 13).as("g"), (lit(0.1) * col("id")).as("v"))
    val one = xs.coalesce(1).groupBy("g").agg(sum("v").as("t"))
    val many = xs.repartition(16, rand(3)).groupBy("g").agg(sum("v").as("t"))
    assert(Fingerprint.of(one) == Fingerprint.of(many))
  }

  test("fingerprint changes when one value changes") {
    val df = sample()
    val base = Fingerprint.of(df)
    val bumped = df.withColumn("x", when(col("id") === 42, col("x") + 0.001).otherwise(col("x")))
    assert(Fingerprint.of(bumped) != base)
    val renamed = df.withColumn("s", when(col("id") === 5, lit("other")).otherwise(col("s")))
    assert(Fingerprint.of(renamed) != base)
    val dropped = df.filter(col("id") =!= 199)
    assert(Fingerprint.of(dropped) != base)
  }

  test("fingerprint tells a NULL apart from a moved value") {
    import spark.implicits._
    val a = Seq[(Option[Int], Option[Int])]((None, Some(1))).toDF("p", "q")
    val b = Seq[(Option[Int], Option[Int])]((Some(1), None)).toDF("p", "q")
    assert(Fingerprint.of(a) != Fingerprint.of(b))
  }

  test("a throwing query and a mismatched fingerprint are failures; a match is not") {
    val good: Harness.Query = (s, _) => s.range(0, 10).toDF("id")
    val print = Fingerprint.of(good(spark, ""))
    val boom: Harness.Query = (_, _) => throw new IllegalStateException("boom")
    val h = new Harness(spark, "", Map("good" -> print, "boom" -> print, "bad" -> "10:0"), record = false)
    val passes = h.coldWarm("good", good, 1, traced = false) ++
      h.coldWarm("boom", boom, 1, traced = false) ++
      h.coldWarm("bad", good, 1, traced = false)
    assert(passes.map(p => p.query -> p.error.isDefined) == Seq(
      "good" -> false, "good" -> false, "boom" -> true, "boom" -> true, "bad" -> true, "bad" -> true))
    assert(passes.filter(_.query == "boom").forall(_.error.get.contains("boom")))
    assert(passes.filter(_.query == "bad").forall(_.error.get.contains("expected 10:0")))
    assert(passes.filter(_.query == "good").forall(_.fingerprint == print))
  }

  test("a query without an expected fingerprint fails unless recording") {
    val q: Harness.Query = (s, _) => s.range(0, 3).toDF("id")
    assert(new Harness(spark, "", Map.empty, record = false).pass("q", q, 1, "cold", false).error.isDefined)
    assert(new Harness(spark, "", Map.empty, record = true).pass("q", q, 1, "cold", false).error.isEmpty)
  }

  test("a traced pass counts the plan it ran and the cache it left") {
    val q: Harness.Query = (s, _) => s.range(0, 1000).groupBy((col("id") % 3).as("k")).count().persist()
    val p = new Harness(spark, "", Map.empty, record = true).pass("q", q, 1, "cold", traced = true)
    assert(p.error.isEmpty)
    assert(p.planNodes > 3)
    assert(p.cacheEntries >= 1 && p.cacheMb > 0)
    spark.catalog.clearCache()
  }

  test("round medians take the median of per-round sums") {
    def pass(round: Int, label: String, s: Double) =
      Pass("q", round, label, traced = false, s, 0, 0, "", None, Nil, 0, 0, 0, 0)
    val ps = Seq(pass(1, "cold", 1), pass(1, "cold", 2), pass(2, "cold", 10), pass(3, "cold", 4),
      pass(1, "warm", 7))
    assert(Main.roundMedian(ps, "cold") == 4.0)
    assert(Main.roundMedian(ps, "warm") == 7.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil) == 0.0)
  }
}
