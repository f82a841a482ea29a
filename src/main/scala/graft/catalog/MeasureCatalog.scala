package graft.catalog

import scala.collection.concurrent.TrieMap

/** Kind of a measure, decided at definition time.
  * (Reference classification: /root/reference/yardstick-rs/src/sql/measures.rs:4508-4536,
  * non-decomposable set :3129-3150, window detection :3010-3126, derived :3214.)
  *
  * On Spark every measure is evaluated by recompute from the base relation
  * (groupBy + null-safe join), so decomposable vs non-decomposable only
  * affects how the *clean view* is registered, not the evaluation plan.
  */
sealed trait MeasureKind
object MeasureKind {
  case object Decomposable extends MeasureKind
  case object NonDecomposable extends MeasureKind
  case object Window extends MeasureKind
  case object Derived extends MeasureKind
}

/** One measure defined in a view.
  * @param name        measure column name (as written, case preserved)
  * @param expression  the aggregate expression text over base columns,
  *                    e.g. "SUM(amount)" or, for derived, "revenue - cost"
  * @param kind        classification
  */
final case class ViewMeasure(name: String, expression: String, kind: MeasureKind)

/** A view carrying measures.
  * Mirrors the reference's MeasureView (measures.rs:41-53), re-expressed for
  * the Spark engine: the clean view is registered as a Spark temp view and
  * evaluation recomputes from `baseRelationSql`.
  *
  * @param viewName        registered view name (case preserved)
  * @param measures        measures in definition order
  * @param baseRelationSql "SELECT * FROM <from-clause> [WHERE <view where>]"
  *                        — the recompute source over raw base columns
  * @param dimensionExprs  view SELECT-list alias -> defining expression text
  *                        (lowercased alias keys); plain columns map to
  *                        themselves
  * @param dimensionOrder  view SELECT-list aliases in order (non-measure)
  * @param groupByCols     the view's own GROUP BY columns minus measures
  */
final case class MeasureView(
    viewName: String,
    measures: Seq[ViewMeasure],
    baseRelationSql: String,
    dimensionExprs: Map[String, String],
    dimensionOrder: Seq[String],
    groupByCols: Seq[String],
    temporary: Boolean = false,
    cleanViewSql: String = ""
) {
  def measure(name: String): Option[ViewMeasure] =
    measures.find(_.name.equalsIgnoreCase(name))
  def measureNamesLower: Set[String] = measures.map(_.name.toLowerCase).toSet
}

/** Session-scoped catalog of measure views. Each call is thread-safe;
  * snapshot/restore is what a failed batch rolls back with (reference:
  * catalog snapshots, yardstick_extension.cpp:571-692, ffi.rs:140-199). A
  * batch is atomic because the engine runs one batch at a time, not because
  * of this class.
  */
final class MeasureCatalog {
  private val views = TrieMap.empty[String, MeasureView]

  private def key(name: String): String = name.toLowerCase

  def register(v: MeasureView): Unit = views.put(key(v.viewName), v)
  def drop(name: String): Boolean = views.remove(key(name)).isDefined
  def get(name: String): Option[MeasureView] = views.get(key(name))
  def contains(name: String): Boolean = views.contains(key(name))
  def all: Seq[MeasureView] = views.values.toSeq

  /** Find the view defining measure `m`, preferring `preferred` view names
    * (the query's FROM tables in order). Reference: resolve_measure_source,
    * measures.rs:4931-4995.
    */
  def resolveMeasure(m: String, preferred: Seq[String]): Option[MeasureView] = {
    val ml = m.toLowerCase
    preferred.flatMap(get).find(_.measureNamesLower.contains(ml))
      .orElse(views.values.find(_.measureNamesLower.contains(ml)))
  }

  def snapshot(): Map[String, MeasureView] = views.readOnlySnapshot().toMap
  def restore(s: Map[String, MeasureView]): Unit = {
    views.clear()
    s.foreach { case (k, v) => views.put(k, v) }
  }
}
