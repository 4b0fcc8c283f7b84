package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, how to build it over a fixture
  * directory, and the DuckDB SQL that must return the same rows (same
  * column names, deterministic order). The name is also the directory
  * Verify writes the result to. The oracle is a thunk, so only Verify
  * pays to build its text. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: () => String)

/** An ordered set of specs whose names are unique and path-safe
  * (`[a-z0-9_]+`); construction fails otherwise. */
final class QueryRegistry(val specs: Seq[QuerySpec]) {
  specs.foreach(q => require(q.name.matches("[a-z0-9_]+"),
    s"query name '${q.name}' must match [a-z0-9_]+"))

  private val byName: Map[String, QuerySpec] = specs.map(q => q.name -> q).toMap
  require(byName.size == specs.size, "duplicate query names: " +
    specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.toSeq.sorted.mkString(", "))

  def apply(name: String): QuerySpec =
    byName.getOrElse(name, throw new NoSuchElementException(s"no declared query '$name'"))

  /** The specs named in a comma-separated list, in registry order; an
    * absent or blank list selects every spec, an unknown name fails. */
  def select(only: Option[String]): Seq[QuerySpec] =
    only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty) match {
      case None => specs
      case Some(names) =>
        names.foreach(apply)
        specs.filter(q => names(q.name))
    }
}

object QueryRegistry {
  /** Comma-separated subset of queries for Bench, Verify and JobProfile
    * (local iteration); unset, they run every query. */
  val SubsetEnv = "SPARK_GRAFT_ONLY"

  lazy val all: QueryRegistry = new QueryRegistry(
    KnnQueries.specs ++ SqlQueries.specs ++ DocQueries.specs ++
      StreamQueries.specs ++ CurateQueries.specs ++ EventQueries.specs ++
      StoreQueries.specs ++ MediaQueries.specs)

  /** [[all]] narrowed by [[SubsetEnv]]. */
  def selected: Seq[QuerySpec] = all.select(sys.env.get(SubsetEnv))
}
