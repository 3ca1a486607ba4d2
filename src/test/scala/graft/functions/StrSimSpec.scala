package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.etl.TestSessions

/** The native JaroWinkler must reproduce the textbook values (and the
  * DuckDB empty-string quirk), agree between interpreted and codegen
  * paths, resolve as a SQL function on the built session, and its length
  * guard must never drop a qualifying pair.
  */
class StrSimSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    StrSim.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("textbook pairs") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(jw("abc", "abc") === 1.0)
  }

  test("edge semantics match DuckDB") {
    assert(jw("", "") === 0.0)       // DuckDB quirk: empties score 0
    assert(jw("a", "") === 0.0)
    assert(jw("ab", "ba") === 0.0)   // window 0, no matches
  }

  test("winkler boost only above 0.7 jaro") {
    // CRATE/TRACE: jaro = 0.7333… > 0.7 but no common prefix — boost is
    // a no-op; ABCVWXYZ/CABVWXYZ: jaro ≈ 0.9583 with prefix 0.
    val j = jw("CRATE", "TRACE")
    assert(math.abs(j - 0.7333333333333333) < 1e-12)
  }

  test("codegen and interpreted agree on a word-salad corpus") {
    val rnd = new scala.util.Random(31)
    val words = Seq("goldenrod", "lavender", "spring", "chiffon", "midnight")
    val df = (0 until 200).map { i =>
      def name() = Seq.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(words.size)))
        .mkString(" ")
      (i.toLong, name(), name())
    }.toDF("id", "a", "b")
    val rows = df.select(col("a"), col("b"),
      StrSim.jaro_winkler(col("a"), col("b")).as("s")).collect()
    rows.foreach { r =>
      assert(r.getDouble(2) === jw(r.getString(0), r.getString(1)))
    }
  }

  test("SQL registration and null propagation") {
    val r = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS s").head()
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
    val n = Seq(("x")).toDF("a")
      .select(StrSim.jaro_winkler(col("a"), lit(null).cast("string")))
    assert(n.head().isNullAt(0))
  }

  test("guard never drops a qualifying pair on real part names") {
    val parts = graft.Tables.load(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey"), col("p_name"),
        split(col("p_name"), " ").getItem(0).as("w1"))
    val a = parts.select(col("w1"), col("p_partkey").as("ka"),
                         col("p_name").as("na"))
    val b = parts.select(col("w1"), col("p_partkey").as("kb"),
                         col("p_name").as("nb"))
    val joined = a.join(b, "w1").filter(col("ka") < col("kb"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ka").cast("long"), col("kb").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = pairs(joined
      .filter(round(StrSim.jaro_winkler(col("na"), col("nb")), 6) >= 0.92))
    val guarded = pairs(joined
      .filter(StrSim.jaroWinklerLengthGuard(col("na"), col("nb"), 0.92))
      .filter(round(StrSim.jaro_winkler(col("na"), col("nb")), 6) >= 0.92))
    assert(guarded === unguarded,
      s"guard dropped ${(unguarded -- guarded).size} qualifying pairs")
  }
}
