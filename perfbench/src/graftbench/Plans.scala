package graftbench

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Plan inspection for the plan-parity check and for classifying the
  * actions a listener sees.
  */
object Plans {

  /** Operators whose loss would mean the timed action did less work
    * than the query's result needs.
    */
  val Kinds: Seq[String] =
    Seq("Join", "Aggregate", "Window", "Sort", "Generate", "ScalaUDF")

  def opCounts(plan: LogicalPlan): Map[String, Int] = {
    val nodes = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    plan.foreachWithSubqueries(nodes += _)
    def n(p: LogicalPlan => Boolean) = nodes.count(p)
    Map(
      "Join" -> n(_.isInstanceOf[Join]),
      "Aggregate" -> n(_.isInstanceOf[Aggregate]),
      "Window" -> n(_.isInstanceOf[Window]),
      "Sort" -> n(_.isInstanceOf[Sort]),
      "Generate" -> n(_.isInstanceOf[Generate]),
      "ScalaUDF" -> nodes.map(_.expressions
        .map(_.collect { case u: ScalaUDF => u }.size).sum).sum)
  }

  /** Kinds the timed plan has fewer of than the returned DataFrame's
    * optimized plan, as "Kind:want>got".
    */
  def dropped(want: Map[String, Int], got: Map[String, Int]): Seq[String] =
    Kinds.collect {
      case k if got.getOrElse(k, 0) < want.getOrElse(k, 0) =>
        s"$k:${want.getOrElse(k, 0)}>${got.getOrElse(k, 0)}"
    }

  /** True for the `format("noop")` write the benchmark times. */
  def isNoopWrite(qe: QueryExecution): Boolean =
    qe.logical.collectFirst {
      case w: V2WriteCommand => w.table
    }.exists {
      case r: DataSourceV2Relation =>
        r.table.getClass.getName.contains("Noop")
      case _ => false
    }

  /** Output path of a file-source write, if the action is one. */
  def writePath(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
}
