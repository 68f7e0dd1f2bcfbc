package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.DupGroups

/** The in-bucket pair kernel ([[DupGroups.inBucketPairs]]) against a
  * driver-side oracle: every two items of each collected bucket, put in
  * id order, and every bucket's pairs kept (the kernel takes no
  * distinct). The same answer must come out under any shuffle partition
  * count, with AQE on or off.
  */
class PairKernelSpec extends SparkSpec {

  /** One kernel input: the frame, its bucket key columns, the item, and
    * the item's id field ("" orders the items themselves).
    */
  private case class Case(name: String, df: () => DataFrame, keys: Seq[String],
                          item: Column, id: String = "")

  /** The kernel's pairs as (keys…, ia, ib) value lists. */
  private def kernel(c: Case): Seq[Seq[Any]] =
    DupGroups.inBucketPairs(c.df(), c.keys, c.item, c.id)
      .select((c.keys :+ "ia" :+ "ib").map(col): _*)
      .collect().map(_.toSeq).toSeq

  /** The driver's pairs: 2-combinations (by position, so equal items
    * still pair) of each collected bucket, ordered on the id, pairs with
    * equal ids dropped.
    */
  private def oracle(c: Case): Seq[Seq[Any]] = {
    val k = c.keys.size
    def id(x: Any): Any = if (c.id.isEmpty) x else x.asInstanceOf[Row].getAs[Any](c.id)
    def lt(x: Any, y: Any): Boolean = (id(x), id(y)) match {
      case (a: Long, b: Long) => a < b
      case (a: Row, b: Row) => // (Int, Long) structs, compared field by field
        Ordering[(Int, Long)].lt((a.getInt(0), a.getLong(1)), (b.getInt(0), b.getLong(1)))
      case other => fail(s"no order for $other")
    }
    c.df().select(c.keys.map(col) :+ c.item.as("it"): _*).collect().toSeq
      .groupBy(r => r.toSeq.take(k)).toSeq
      .flatMap { case (key, rs) =>
        val items = rs.map(_.get(k))
        items.indices.combinations(2).flatMap { case Seq(i, j) =>
          val (x, y) = (items(i), items(j))
          if (lt(x, y)) Some(key :+ x :+ y) else if (lt(y, x)) Some(key :+ y :+ x) else None
        }
      }
  }

  test("inBucketPairs equals driver-side combinations(2) over every bucket, under any " +
    "shuffle partition count, with AQE on or off") {
    import spark.implicits._
    // (band, sig, id): sizes 1, 2 and 6 per bucket; id 7 sits in three
    // bands (and pairs with 3 in two of them), ids arrive out of order
    val banded = Seq(
      (0, "a", 7L), (0, "a", 3L), (0, "b", 9L),
      (1, "a", 3L), (1, "a", 7L), (1, "c", 5L),
      (2, "x", 12L), (2, "x", 7L), (2, "x", 1L), (2, "x", 30L), (2, "x", 4L), (2, "x", 8L),
      (3, "y", 2L))
    // (bucket, rep, m, arr): struct items carrying a count and an array
    val structs = Seq(
      (10L, 5L, 2L, Seq(1L, 2L)), (10L, 2L, 1L, Seq(3L)), (10L, 9L, 4L, Seq.empty[Long]),
      (10L, 1L, 1L, Seq(4L, 4L)), (10L, 7L, 3L, Seq(5L)),
      (11L, 3L, 1L, Seq(6L)), (11L, 4L, 2L, Seq(7L)),
      (12L, 6L, 5L, Seq(8L)))
    // (u, dv, v): items ordered on the whole (dv, v) struct, ties on dv
    val wedges = Seq((1L, 2, 9L), (1L, 2, 4L), (1L, 1, 20L), (1L, 3, 0L), (2L, 5, 1L))
    val cases = Seq(
      Case("scalar ids in multi-band buckets", () => banded.toDF("band", "sig", "id")
        .repartition(3), Seq("band", "sig"), col("id")),
      Case("struct items (rep, m, array) ordered on rep", () =>
        structs.toDF("bucket", "rep", "m", "arr").repartition(3), Seq("bucket"),
        struct(col("rep"), col("m"), col("arr")), "rep"),
      Case("struct items ordered on the whole struct", () => wedges.toDF("u", "dv", "v"),
        Seq("u"), struct(col("dv"), col("v"))),
      Case("only one-item buckets", () => banded.toDF("band", "sig", "id")
        .where(col("band") === 3 || col("sig") === "b"), Seq("band", "sig"), col("id")),
      Case("no rows", () => banded.toDF("band", "sig", "id").where(lit(false)),
        Seq("band", "sig"), col("id")))

    val expected = cases.map(c => c.name -> oracle(c)).toMap
    expected("scalar ids in multi-band buckets").size shouldBe 1 + 1 + 15
    expected("struct items (rep, m, array) ordered on rep").size shouldBe 10 + 1
    expected("struct items ordered on the whole struct").size shouldBe 6
    expected("only one-item buckets") shouldBe empty
    expected("no rows") shouldBe empty

    val default = spark.conf.get("spark.sql.shuffle.partitions")
    for (aqe <- Seq("true", "false"); parts <- Seq("1", "7", default))
      withConf("spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> parts) {
        cases.foreach { c =>
          withClue(s"AQE $aqe, $parts shuffle partitions, ${c.name}: ") {
            kernel(c) should contain theSameElementsAs expected(c.name)
          }
        }
      }
  }
}
