package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("x", DoubleType),
    StructField("s", StringType), StructField("a", ArrayType(IntegerType))))
  private val rows = (1 to 200).map(i =>
    Row(i.toLong % 37, i / 7.0, if (i % 11 == 0) null else s"r${i % 13}",
      Seq(i % 3, i % 5)))

  private def df(rs: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), schema)

  test("the fingerprint ignores row order and partitioning") {
    val base = Fingerprint.of(df(rows))
    assert(base.rows == 200 && base.cols == 4)
    assert(Fingerprint.of(df(new scala.util.Random(5).shuffle(rows))) == base)
    assert(Fingerprint.of(df(rows).repartition(1)) == base)
    assert(Fingerprint.of(df(rows).repartition(7)) == base)
    assert(Fingerprint.of(df(rows).orderBy("s", "x")) == base)
  }

  test("the fingerprint sees changed, duplicated and missing rows") {
    val base = Fingerprint.of(df(rows))
    assert(Fingerprint.of(df(rows.tail)) != base)
    assert(Fingerprint.of(df(rows.tail :+ rows.head :+ rows.head)) != base)
    assert(Fingerprint.of(df(rows.updated(3, Row(0L, 1.5, "z", Seq(1))))) != base)
    assert(Fingerprint.of(df(rows).withColumnRenamed("s", "t")) != base)
  }

  test("doubles are compared to six significant digits") {
    val a = Fingerprint.rowHash(Seq(1.0 / 3, 12345678.9))
    assert(Fingerprint.rowHash(Seq(0.33333333333334, 12345678.900000001)) == a)
    assert(Fingerprint.rowHash(Seq(0.3334, 12345678.9)) != a)
    assert(Fingerprint.canonical(-0.0) == Fingerprint.canonical(0.0))
    assert(Fingerprint.canonical(999999.6) == Fingerprint.canonical(1000000.0))
  }
}
