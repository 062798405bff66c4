package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The catalog is assembled from per-domain modules; each entry is a `Q`
  * (name, Spark query, optional DuckDB oracle SQL).
  */
object SparkEntry {

  /** Full operator catalog. */
  lazy val catalog: Seq[Q] =
    graft.queries.RelationalQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.ControlQueries.all ++
      graft.queries.ArrayQueries.all ++
      graft.queries.OfflineQueries.all ++
      graft.queries.MultimodalQueries.all ++
      graft.queries.SegmentQueries.all ++
      graft.queries.StreamingQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    catalog.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** SPARK_GRAFT_ONLY="a,b" query-name filter shared by the Verify and
    * Bench mains (local iteration aid; the driver sets nothing).
    */
  def onlyFilter: String => Boolean = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    name => only.isEmpty || only(name)
  }

  /** Upper bound of SPARK_GRAFT_CPUS: local[N] starts N task threads. */
  private[graft] val MaxCpus = 1024

  /** A numeric environment override (SPARK_GRAFT_CPUS and the Bench
    * knobs): `default` when unset, else the value parsed as an integer in
    * [min, max]. A typo fails here, naming the variable, instead of deep
    * inside the run (`local[abc]`, a bare NumberFormatException, a
    * negative sleep).
    */
  private[graft] def envInt(name: String, default: Int, min: Int, max: Int,
      env: String => Option[String] = sys.env.get): Int =
    env(name) match {
      case None => default
      case Some(raw) =>
        raw.trim.toIntOption.filter(v => v >= min && v <= max).getOrElse(
          throw new IllegalArgumentException(
            s"$name must be an integer in [$min, $max], got '$raw'"))
    }
}
