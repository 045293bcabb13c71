package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

/** SparkSessionExtensions installer for graft.
  *
  * Registers the native SQL-callable expressions, the top-k aggregate
  * rewrite, the driver-side sort of local relations
  * ([[LocalRelationSort]]), the `graft_docgen` table function and the
  * as-of and interval join strategies. Which join sides broadcast is Spark's own
  * size-based choice (`spark.sql.autoBroadcastJoinThreshold`, which
  * [[graft.GraftSession.builder]] sets), not an extension rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.VectorFunctions.registerSql(e)
    graft.functions.JaccardFunctions.registerSql(e)
    graft.functions.TopKFunctions.registerSql(e)
    e.injectOptimizerRule(_ => TopKRewrite)
    e.injectOptimizerRule(_ => LocalRelationSort)
    // SQL table-valued function surface of the graft-docgen DSv2
    // source: `SELECT * FROM graft_docgen(n)` expands to the same
    // closed-form generator over range(n), so SQL users get the
    // synthetic corpus without touching the DataFrame reader. The
    // returned plan is unresolved — the analyzer resolves range() and
    // the builtins exactly as if the SQL had been typed inline.
    e.injectTableFunction((
      new FunctionIdentifier("graft_docgen"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_docgen"),
      (args: Seq[Expression]) => {
        val n = args match {
          case Seq(Literal(v: Number, _)) => v.longValue()
          case _ => throw new IllegalArgumentException(
            "graft_docgen(n) requires one literal row count")
        }
        CatalystSqlParser.parsePlan(
          s"""SELECT id AS doc_id,
             |       concat('gen', CAST(id % 10 AS STRING)) AS source,
             |       CAST(5 + id % 20 AS INT) AS n_words,
             |       array_join(transform(sequence(0L, 4L + id % 20L),
             |         i -> concat('w', CAST((id * 2654435761L + i * 40503L)
             |                               % 1000L AS STRING))), ' ') AS text
             |FROM range($n)""".stripMargin)
      }))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
  }
}
