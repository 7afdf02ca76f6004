package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.graft.GraftSqlFunctions

/** Flink `LATERAL TABLE(udtf(...))` SQL surface (reference Correlate:
  * flink-table-planner-blink StreamExecCorrelate.scala + the
  * `FROM t, LATERAL TABLE(F(x)) AS T(col…)` grammar in flink-sql-parser).
  * [[org.apache.spark.sql.graft.GraftSqlFunctions.sql]] lowers the comma
  * form to `LATERAL VIEW F(args) T AS cols` (rows with no output drop) and
  * `LEFT JOIN … ON TRUE` to `LATERAL VIEW OUTER` (they survive with nulls)
  * on the parsed plan, so the correlate stays a codegen'd Generate inside
  * Catalyst. The UDTFs `split_rows` / `split_rows_indexed` are session
  * generator functions (explode / posexplode of a literal-delimiter split),
  * the analogue of the reference's function-catalog lookup at Correlate
  * planning time.
  */
object LateralSql {

  /** q_lateral_sql: the reference's comma-join correlate text, verbatim. */
  val qLateralSql: Q = Q(
    "q_lateral_sql",
    (s, dir) => { Tables.registerAll(s, dir); GraftSqlFunctions.sql(s,
      """SELECT event_id, tok
        |FROM events, LATERAL TABLE(split_rows(event_type, 'i')) AS T(tok)
        |ORDER BY event_id, tok""".stripMargin) },
    Some("""SELECT event_id, unnest(string_split(event_type, 'i')) AS tok
           |FROM events ORDER BY event_id, tok""".stripMargin))

  /** q_lateral_sql_indexed: posexplode twin — the UDTF emitting (pos, val),
    * i.e. a multi-column table function. */
  val qLateralSqlIndexed: Q = Q(
    "q_lateral_sql_indexed",
    (s, dir) => { Tables.registerAll(s, dir); GraftSqlFunctions.sql(s,
      """SELECT event_id, pos, tok
        |FROM events, LATERAL TABLE(split_rows_indexed(event_type, 'e')) AS T(pos, tok)
        |ORDER BY event_id, pos""".stripMargin) },
    Some("""SELECT event_id,
           |       CAST(unnest(generate_series(0, len(string_split(event_type, 'e')) - 1)) AS INTEGER) AS pos,
           |       unnest(string_split(event_type, 'e')) AS tok
           |FROM events ORDER BY event_id, pos""".stripMargin))

  val all: Seq[Q] = Seq(qLateralSql, qLateralSqlIndexed)
}
