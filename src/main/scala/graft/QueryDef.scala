package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation plus an equivalent
  * DuckDB oracle query over the same parquet tables. The driver
  * compares results column-sorted and hashed, so every computed column
  * must carry the SAME alias on both sides.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def sql(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle)

  /** JSON string escape shared by the Bench/Verify record writers:
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL, or a quote in an env-derived path/label,
    * would otherwise make the driver's json.load fail and silently
    * zero the round's record. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
