package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.TestSessions

class ReadersSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private lazy val src = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "s", "v")

  test("csv/json/orc round-trip under the declared schema") {
    val d = org.apache.spark.ScratchDirs.create("graft_src_fmt").toString
    src.write.option("header", "true").csv(s"$d/c")
    src.write.json(s"$d/j")
    src.write.orc(s"$d/o")
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("s", StringType), StructField("v", DoubleType)))
    Seq(
      Readers.csv(spark, s"$d/c", schema),
      Readers.json(spark, s"$d/j", schema),
      Readers.orc(spark, s"$d/o")
    ).foreach { df =>
      assert(df.orderBy("id").collect().map(_.toSeq).toSeq
        === src.orderBy("id").collect().map(_.toSeq).toSeq)
    }
  }

  test("permissive csv turns malformed cells into nulls, not failures") {
    val d = org.apache.spark.ScratchDirs.create("graft_src_bad")
    java.nio.file.Files.write(d.resolve("bad.csv"),
      "id,s,v\n1,a,1.5\nnotanint,b,xyz\n".getBytes)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val df = Readers.csv(spark, d.toString, schema)
    assert(df.count() === 2)
    assert(df.filter(col("id").isNull).count() === 1)
  }

  test("binaryFiles ingests raw bytes with path/length metadata and glob filter") {
    val d = org.apache.spark.ScratchDirs.create("graft_src_bin")
    val pngA = graft.textops.Multimodal.generatePng(3L)
    val pngB = graft.textops.Multimodal.generatePng(7L)
    java.nio.file.Files.write(d.resolve("a.png"), pngA)
    java.nio.file.Files.write(d.resolve("b.png"), pngB)
    java.nio.file.Files.write(d.resolve("skip.txt"), "no".getBytes)
    val df = Readers.binaryFiles(spark, d.toString, glob = Some("*.png"))
    assert(df.count() === 2)
    val byName = df.collect().map(r =>
      r.getString(0).split('/').last ->
        (r.getLong(2), r.getAs[Array[Byte]](3).toSeq)).toMap
    assert(byName("a.png") === ((pngA.length.toLong, pngA.toSeq)))
    assert(byName("b.png") === ((pngB.length.toLong, pngB.toSeq)))
    // feeds straight into the REAL image decoder
    val media = df.select(
      monotonically_increasing_id().as("media_id"), col("content").as("blob"))
    val feats = graft.textops.Multimodal.extractImageFeatures(media)
      .orderBy("width").collect()
    assert(feats.length === 2)
    // id=3 → 19×15+... widths: w = 16+(id%49)
    assert(feats.map(_.getAs[Int]("width")).toSeq === Seq(19, 23))
  }

  test("parquetChecked rejects schema drift") {
    val d = org.apache.spark.ScratchDirs.create("graft_src_drift").toString
    src.write.parquet(s"$d/p")
    val wrong = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    intercept[IllegalArgumentException] {
      Readers.parquetChecked(spark, s"$d/p", wrong)
    }
    val right = StructType(Seq(StructField("id", IntegerType),
      StructField("s", StringType), StructField("v", DoubleType)))
    assert(Readers.parquetChecked(spark, s"$d/p", right).count() === 2)
  }
}
