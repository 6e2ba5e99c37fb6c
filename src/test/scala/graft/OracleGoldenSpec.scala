package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.io.Source

/** Pins every query's DuckDB oracle byte for byte: `oracle_sql.sha256`
  * holds one `name<TAB>sha256(oracleSql(name))` line per query, sorted by
  * name. A refactor of the query catalog that changes a name, drops a
  * query or alters one character of an oracle fails here, without a
  * Spark session or a DuckDB run. */
class OracleGoldenSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every oracleSql string matches its pinned sha256") {
    val src = Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    val golden =
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(name, hash) = l.split('\t')
        name -> hash
      }.toMap
      finally src.close()
    val actual = SparkEntry.oracleSql.map { case (n, q) => n -> sha256(q) }
    assert(actual.keySet == golden.keySet,
      s"missing: ${golden.keySet.diff(actual.keySet)}, " +
        s"unpinned: ${actual.keySet.diff(golden.keySet)}")
    val changed = actual.keys.filter(n => actual(n) != golden(n)).toSeq.sorted
    assert(changed.isEmpty, s"oracle SQL changed for: $changed")
  }
}
