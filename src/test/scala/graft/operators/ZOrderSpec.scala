package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** Morton interleave arithmetic + the layout property it buys: z-ordered
  * files cover narrow rectangles in BOTH dimensions, so either-dimension
  * filters prune most files. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def mortonRef(x: Int, y: Int): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((x >> i) & 1).toLong << (2 * i)
      z |= ((y >> i) & 1).toLong << (2 * i + 1)
    }
    z
  }

  test("interleave16 matches a bit-by-bit reference") {
    val pts = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321),
      (255, 256), (32768, 1))
    val got = pts.toDF("x", "y")
      .select(ZOrder.interleave16(col("x"), col("y")).as("z"))
      .as[Long].collect()
    assert(got.toSeq === pts.map { case (x, y) => mortonRef(x, y) })
  }

  test("native zorder_key is bit-identical to the composable cascade") {
    val pts = (0 until 4096).map(i => ((i * 2654435761L) % 65536,
      (i * 40503L) % 65536))
    val df = pts.toDF("x", "y")
    val diff = df.select(
        ZOrder.interleave16(col("x"), col("y")).as("n"),
        ZOrder.interleave16Composable(col("x"), col("y")).as("c"))
      .filter(col("n") =!= col("c")).count()
    assert(diff === 0L)
  }

  test("z-order is monotone within a quadrant split") {
    // the top interleaved bits are the quadrant id: all points of the
    // low-low quadrant sort before any point of the high-high quadrant
    val lowLow = mortonRef(127, 127)
    val highHigh = mortonRef(128, 128)
    assert(lowLow < highHigh)
  }

  test("z-ordered files are rectangles; one-dimension filters prune") {
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x, y)
    val dir = org.apache.spark.ScratchDirs.create("graft_zorder").toString
    ZOrder.writeZOrdered(grid.toDF("x", "y"), col("x"), col("y"), dir,
      numFiles = 4)
    val stats = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
           min("y").as("y0"), max("y").as("y1"),
           min(ZOrder.interleave16(col("x"), col("y"))).as("z0"),
           max(ZOrder.interleave16(col("x"), col("y"))).as("z1"))
      .collect()
    assert(stats.length === 4)
    // files tile z-space contiguously: their z-ranges never overlap
    val zr = stats.map(r => (r.getAs[Long]("z0"), r.getAs[Long]("z1")))
      .sortBy(_._1)
    zr.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file z-ranges: ${zr.mkString(", ")}")
    }
    // the leading interleaved dimension (y) stays within ~half the grid
    // per file even with range-sampling boundary wobble, so a filter on
    // it prunes at least half the files
    stats.foreach { r =>
      assert(r.getAs[Int]("y1") - r.getAs[Int]("y0") <= 40, r.toString)
    }
    val hitY = stats.count(r => r.getAs[Int]("y0") < 16)
    assert(hitY <= 2, s"y<16 should prune to <=2 files, hit $hitY")
  }
}
