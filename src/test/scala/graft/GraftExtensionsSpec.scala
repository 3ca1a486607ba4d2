package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session [[Sessions.build]] makes resolves every native function
  * [[GraftExtensions]] names in SQL. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = graft.etl.TestSessions.spark

  private def one(sql: String) = spark.sql(sql).head()

  test("vec_cosine of a vector with itself is 1") {
    val c = one("""SELECT vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
                  |                  CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))""".stripMargin)
      .getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("md5_long is the signed first 16 hex digits of md5") {
    // md5('hello world') = 5eb63bbbe01eeed0...
    assert(one("SELECT md5_long('hello world')").getLong(0) ==
      java.lang.Long.parseUnsignedLong("5eb63bbbe01eeed0", 16))
  }

  test("zorder_key interleaves x on even bits and y on odd bits") {
    // x=3 (0b11) on even bits, y=5 (0b101) on odd bits: 0b100111 = 39
    assert(one("SELECT zorder_key(CAST(3 AS BIGINT), CAST(5 AS BIGINT))")
      .getLong(0) == 39L)
  }

  test("jaro_winkler matches the textbook MARTHA/MARHTA score") {
    assert(math.abs(one("SELECT jaro_winkler('MARTHA', 'MARHTA')")
      .getDouble(0) - 0.9611111111111111) < 1e-12)
  }
}
