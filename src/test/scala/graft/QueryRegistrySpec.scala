package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's shape, checked without any sf data: every
  * query is declared once with its oracle, and no oracle string drifts
  * when queries move between files.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("79 uniquely named queries, each with a non-empty oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 79)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    for ((name, sql) <- SparkEntry.oracleSql)
      assert(sql.trim.nonEmpty, s"$name has an empty oracle")
  }

  test("oracle SQL unchanged: SHA-256 over the sorted (name, oracle) pairs") {
    val md = MessageDigest.getInstance("SHA-256")
    for ((name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1))
      md.update(s"$name\u0000$sql\u0000".getBytes(UTF_8))
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    // recorded from the two parallel name-keyed maps the registry replaced
    assert(hex == "71e8f4f1d9a5e3c20cf2d1a7c930c333884fedbe66b79192b18723cf579f99e9")
  }

  test("a name declared twice fails with that name") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(q, SparkEntry.registry(1), q))(_.oracle))
    assert(e.getMessage.contains(q.name))
  }
}
