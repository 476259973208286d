package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's `oracle_sql.json` is read back by `json.load` in
  * `tools/compare_oracle.py`: a character the writer leaves unescaped
  * would fail the whole file.
  */
class OracleJsonSpec extends AnyFunSuite {

  test("oracle SQL with a quote, backslash, tab, CR and \\u0001 round-trips") {
    val sql = Seq(
      "q_quote" -> "SELECT '\"a\"' AS s",
      "q_back\\slash" -> "SELECT regexp_replace(u, '\\\\d+', '') AS u",
      "q_ws" -> "SELECT\t1 AS a,\r\n2 AS b",
      "q_ctl" -> "SELECT '\u0001' AS c")
    val tree = Bench.Json.readTree(Verify.oracleJson(sql))
    assert(tree.size() === sql.size)
    sql.foreach { case (k, v) => assert(tree.get(k).asText() === v) }
  }
}
