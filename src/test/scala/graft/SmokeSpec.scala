package graft
class SmokeSpec extends SparkSpec {
  test("driver contract: entry returns rows; registries aligned") {
    SparkEntry.entry(spark).count() should be > 0L
    // every oracle key has a query; every query has an oracle
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    (o -- q) shouldBe empty
    (q -- o) shouldBe empty
    q.size should be >= 148
  }

  test("registry names are unique, so no QuerySpec is dropped from the name maps") {
    val names = Queries.specs.map(_.name)
    names.diff(names.distinct) shouldBe empty
    names.size shouldBe SparkEntry.queries.size
    names.size shouldBe SparkEntry.oracleSql.size
  }
}

/** Pins `Tables.normalizeTs` on BOTH ts encodings the driver has shipped:
  * int64 nanos (rounds 1-5 testdata, read under nanosAsLong) and plain
  * timestamp[us] without timezone (round-6+ testdata, TIMESTAMP_NTZ).
  * The round-6 driver gate broke because the STREAMING readers hardcoded
  * the nanos branch — this spec keeps both paths honest for batch and
  * stream alike (StreamQueries st4/st5 now share this helper).
  */
class NormalizeTsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  test("long nanos -> micros timestamp") {
    import spark.implicits._
    // 2024-01-02T03:04:05.123456789 UTC as nanos since epoch
    val nanos = 1704164645123456789L
    val df = Seq(nanos).toDF("ts")
    val out = Tables.normalizeTs(df)
    out.schema("ts").dataType shouldBe TimestampType
    out.select(unix_micros(col("ts"))).as[Long].head() shouldBe nanos / 1000
  }

  test("TIMESTAMP_NTZ -> timestamp, wall-clock preserved under UTC session") {
    import spark.implicits._
    val micros = 1704164645123456L
    val df = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    df.schema("ts").dataType shouldBe TimestampNTZType
    val out = Tables.normalizeTs(df)
    out.schema("ts").dataType shouldBe TimestampType
    out.select(unix_micros(col("ts"))).as[Long].head() shouldBe micros
  }

  test("already-timestamp passes through unchanged") {
    import spark.implicits._
    val df = Seq(1L).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    Tables.normalizeTs(df).schema("ts").dataType shouldBe TimestampType
  }
}
