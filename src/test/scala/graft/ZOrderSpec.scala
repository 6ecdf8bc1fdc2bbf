package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ZOrder

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("morton code interleaves bits (hand-computed corners)") {
    val df = Seq((0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0),
      (2.0, 1.0)).toDF("x", "y")
    val out = df.select(ZOrder.mortonCode(col("x"), col("y"),
      0.0, 3.0, 0.0, 3.0, bits = 2)).collect().map(_.getLong(0)).toSeq
    // grid is exact at these corners: (0,0)=0, (3,0)=x bits 0b11→5,
    // (0,3)=y bits→10, (3,3)=15, (2,1)=x 0b10,y 0b01→interleave 0b0110=6
    assert(out == Seq(0L, 5L, 10L, 15L, 6L))
  }

  test("3-D morton code interleaves bit b of dim i at position 3b+i " +
      "(hand-computed corners)") {
    val df = Seq((0.0, 0.0, 0.0), (3.0, 0.0, 0.0), (0.0, 3.0, 0.0),
      (0.0, 0.0, 3.0), (3.0, 3.0, 3.0), (2.0, 1.0, 3.0))
      .toDF("x", "y", "z")
    val out = df.select(ZOrder.mortonCodeN(Seq(
      (col("x"), 0.0, 3.0), (col("y"), 0.0, 3.0), (col("z"), 0.0, 3.0)),
      bits = 2)).collect().map(_.getLong(0)).toSeq
    // grid coords are exact at corners; x bits at {0,3}, y at {1,4},
    // z at {2,5}: (3,0,0)=0b001001=9, (0,3,0)=18, (0,0,3)=36,
    // (3,3,3)=63, (2,1,3)=x10,y01,z11 → bit0:x0=0,y0=1,z0=1,
    // bit1:x1=1,y1=0,z1=1 → 0b101110=46
    assert(out == Seq(0L, 9L, 18L, 36L, 63L, 46L))
    // 2-D delegation is bit-identical to the classic interleave
    val two = df.select(ZOrder.mortonCode(col("x"), col("y"),
      0.0, 3.0, 0.0, 3.0, bits = 2)).collect().map(_.getLong(0)).toSeq
    val twoN = df.select(ZOrder.mortonCodeN(Seq(
      (col("x"), 0.0, 3.0), (col("y"), 0.0, 3.0)), bits = 2))
      .collect().map(_.getLong(0)).toSeq
    assert(two == twoN)
  }

  test("morton code is monotone within a tile and clamps outside " +
      "bounds") {
    val df = Seq((-5.0, 1.0), (500.0, 1.0)).toDF("x", "y")
    val out = df.select(ZOrder.mortonCode(col("x"), col("y"),
      0.0, 100.0, 0.0, 100.0, bits = 4)).collect().map(_.getLong(0))
    val lo = df.select(ZOrder.mortonCode(lit(0.0), lit(1.0),
      0.0, 100.0, 0.0, 100.0, bits = 4)).collect().head.getLong(0)
    val hiX = df.select(ZOrder.mortonCode(lit(100.0), lit(1.0),
      0.0, 100.0, 0.0, 100.0, bits = 4)).collect().head.getLong(0)
    assert(out(0) == lo && out(1) == hiX)
  }

  test("z-layout keeps BOTH dims' per-file spans tight; 1-D sort " +
      "leaves the other dim unskippable") {
    // deterministic pseudo-uniform 2-D points
    val pts = spark.range(0, 20000).select(
      (pmod(xxhash64(col("id")), lit(10000L)) / 10.0).as("x"),
      (pmod(xxhash64(col("id"), lit(1)), lit(10000L)) / 10.0).as("y"))
    val zDir = "target/tmp/zorder_pts"
    val xDir = "target/tmp/xsort_pts"
    ZOrder.clustered(pts, ZOrder.mortonCode(col("x"), col("y"),
        0.0, 1000.0, 0.0, 1000.0), numFiles = 16)
      .write.mode("overwrite").parquet(zDir)
    pts.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)

    def spans(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .agg(avg("sx"), avg("sy")).collect().head match {
        case r => (r.getDouble(0), r.getDouble(1))
      }
    val (zx, zy) = spans(zDir)
    val (xx, xy) = spans(xDir)
    info(f"z-layout avg spans x=$zx%.0f y=$zy%.0f; " +
      f"x-sort avg spans x=$xx%.0f y=$xy%.0f (range 1000)")
    // x-sort: x tight but y spans ~the whole range — no skipping on y
    assert(xx < 100 && xy > 900)
    // z-layout: BOTH dims bounded well under the full range
    assert(zx < 600 && zy < 600,
      f"z spans x=$zx%.0f y=$zy%.0f not tile-shaped")

    // the payoff: a narrow y-band predicate can skip most z files
    val zFiles = spark.read.parquet(zDir)
      .groupBy(input_file_name().as("f"))
      .agg(min("y").as("lo"), max("y").as("hi"))
    val touched = zFiles.where(col("lo") <= 420.0 && col("hi") >= 400.0)
      .count()
    info(s"z files intersecting y∈[400,420]: $touched of 16")
    assert(touched <= 8, s"$touched of 16 files intersect a 2% y-band")
  }
}
