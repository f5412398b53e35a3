package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{Columns, Event}

/** ECS-shaped nested projection of the flat kernel table (SURVEY.md §1.4:
  * the target data model is ECS 1.7/1.9 — a fixed, wide, NESTED schema).
  * The engine keeps the inter-stage representation flat/columnar (better for
  * Tungsten + cross-engine comparison); this projection is the sink-facing
  * view whose struct layout matches the Elastic index templates (ref: the
  * json index templates under doc/templates/ECS_1.7/).
  *
  * Derived from the column table: each event-derived column sits at its ECS
  * path; the context columns and the tag-derived booleans stay at the top
  * level, with `ts` as `@timestamp`.
  */
object Ecs {

  def project(parsed: DataFrame): DataFrame = parsed.select(nest(Columns.all.map { c =>
    val at = if (c.path != null) Event.parsePath(c.path).toList
             else List(if (c.name == "ts") "@timestamp" else c.name)
    (at, c.name)
  }): _*)

  /** One level of the view: the (path, column) leaves grouped by their
    * first segment, in table order. */
  private def nest(leaves: Seq[(List[String], String)]): Seq[Column] =
    leaves.map(_._1.head).distinct.map { seg =>
      leaves.filter(_._1.head == seg) match {
        case Seq((_ :: Nil, name)) => col(name).as(seg)
        case under =>
          require(under.forall(_._1.tail.nonEmpty), s"ECS path segment $seg is both a leaf and a struct")
          struct(nest(under.map { case (p, name) => (p.tail, name) }): _*).as(seg)
      }
    }
}
