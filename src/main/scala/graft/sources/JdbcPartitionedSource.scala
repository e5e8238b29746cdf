package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.jdbc.JdbcDialects

import graft.core.{GraftConfig, HanaTypes}
import graft.operators.Chunking

/** `src_jdbc_partitioned` + `src_catalog_introspect` (SURVEY.md §2.1): the
  * reference's parallel range-partitioned JDBC read (`HanaToDBRow.java:80-112`)
  * re-expressed on Spark's JDBC source.
  *
  * The reference's model: one worker query per chunk element, parameters bound
  * from `"lo,hi"` strings (`HanaToDBRow.java:103-111`). Spark's
  * `read.jdbc(url, table, predicates, props)` is the same physical plan —
  * `JDBCRDD.compute` opens a connection per partition and executes one
  * statement per predicate — with two strict improvements:
  *   - schema comes from the driver's `resolveTable` (authoritative), not a
  *     side-channel column list fetched by name (`HanaToDBRow.java:96-97`);
  *   - bounds are typed literals in the predicate, not strings relying on
  *     implicit DB coercion (`setString` at `HanaToDBRow.java:108-109`).
  *
  * Offline note: the sandbox has no live database; this module is exercised by
  * unit tests of the option/predicate assembly, and parquet stands in for the
  * scan in the e2e harness (SURVEY.md §7.4).
  */
object JdbcPartitionedSource {

  /** Assemble the JDBC connection properties from the config surface
    * (`HanaToBQ.java:175-224`). */
  def connectionProperties(cfg: GraftConfig): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", cfg.username)
    p.setProperty("password", cfg.password)
    p.setProperty("driver", cfg.driver)
    // one remote statement per partition, chunk-sized fetches
    p.setProperty("fetchsize", "10000")
    p
  }

  /** Partition predicates for the chunk plan — the fan-out the reference
    * builds at `HanaToBQ.java:247` + `HanaToDBRow.java:88`. The timestamp
    * column is the EXACT (case-preserved) column name, quoted with the
    * source dialect's `quoteIdentifier`: Derby and HANA fold unquoted names
    * to upper case, so a bare lower-case column could not be addressed. */
  def predicates(cfg: GraftConfig, intervals: Seq[(Long, Long)]): Array[String] =
    Chunking.toPredicates(intervals,
      JdbcDialects.get(cfg.connectionString).quoteIdentifier(cfg.timestampColumn))

  /** The exact name of the relation's column that `name` denotes under the
    * session resolver (case-insensitive unless `spark.sql.caseSensitive`);
    * an exact match wins over case variants of it. Fails naming the
    * relation's columns when nothing or more than one column matches. */
  def resolveColumn(rel: DataFrame, name: String): String = {
    val resolver = rel.sparkSession.sessionState.conf.resolver
    val names = rel.columns.toSeq
    names.find(_ == name).getOrElse(names.filter(resolver(_, name)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"column '$name' not found in ${names.mkString("[", ", ", "]")}")
      case many => throw new IllegalArgumentException(
        s"column '$name' is ambiguous: ${many.mkString("[", ", ", "]")}")
    })
  }

  /** Parallel partitioned read: one Spark partition per `[lo,hi)` chunk. */
  def read(spark: SparkSession, cfg: GraftConfig,
           intervals: Seq[(Long, Long)]): DataFrame =
    spark.read.jdbc(cfg.connectionString, cfg.tableName,
      predicates(cfg, intervals), connectionProperties(cfg))

  /** `src_catalog_introspect` (`HanaToBQ.java:56,104-143`): the reference
    * queries HANA's TABLE_COLUMNS catalog and maps types; Spark's JDBC
    * relation resolves the schema the same way (driver-side, eager). For an
    * already-loaded DataFrame the schema IS the catalog. This helper applies
    * the reference's type-map pass over a discovered (name, hanaType) catalog
    * listing, aborting on unmapped types exactly like `HanaToBQ.java:129-132`. */
  def introspect(cols: Seq[(String, String)],
                 mode: HanaTypes.Mode = HanaTypes.RefCompatible) =
    HanaTypes.schemaFor(cols, mode)

  /** The reference's catalog query text, verbatim (`HanaToBQ.java:56`,
    * executed at `:110`): column names and type names in ordinal position
    * order. `%s` is the table name, interpolated exactly as the reference
    * does — acceptable for a system-catalog lookup of an operator-supplied
    * identifier, and kept identical for parity. */
  val HanaCatalogSql: String =
    "SELECT COLUMN_NAME,DATA_TYPE_NAME FROM TABLE_COLUMNS WHERE TABLE_NAME = '%s' ORDER BY POSITION ASC"

  /** Execute a TABLE_COLUMNS-style catalog listing over a live JDBC
    * connection — the reference's `getSchema` fetch loop
    * (`HanaToBQ.java:104-119`): one blocking driver-side statement, rows
    * read in catalog position order. `catalogSql` defaults to HANA's system
    * view; other engines pass their own listing (tests use Derby's
    * SYS.SYSCOLUMNS equivalent). */
  def fetchCatalog(cfg: GraftConfig,
                   catalogSql: String = HanaCatalogSql): Seq[(String, String)] = {
    // the table name is string-interpolated into the catalog SQL (reference
    // parity — `HanaToBQ.java:110`); validate it as a bare identifier first
    // so an untrusted name can't smuggle SQL through the quotes
    require(cfg.tableName.matches("[A-Za-z0-9_.$#]+"),
      s"tableName '${cfg.tableName}' is not a plain identifier " +
        "(allowed: letters, digits, _ . $ #)")
    Class.forName(cfg.driver)
    val conn = java.sql.DriverManager.getConnection(
      cfg.connectionString, cfg.username, cfg.password)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(catalogSql.format(cfg.tableName))
        val buf = scala.collection.mutable.ListBuffer.empty[(String, String)]
        while (rs.next()) buf += ((rs.getString(1), rs.getString(2)))
        buf.toList
      } finally st.close()
    } finally conn.close()
  }

  /** Strip vendor decoration from a catalog type name so non-HANA catalogs
    * can feed the same 21-lane map: `"VARCHAR(20) NOT NULL"` -> `"VARCHAR"`.
    * HANA's DATA_TYPE_NAME is already bare, so this is a no-op on the
    * reference path. */
  def normalizeTypeName(t: String): String =
    t.trim.toUpperCase.takeWhile(c => c.isLetter || c == '_')

  /** End-to-end catalog introspection over JDBC: execute the catalog listing
    * and land it on the Spark schema through the reference's type map
    * (`HanaToBQ.java:120-136`), aborting on unmapped types (`:129-132`). */
  def introspectJdbc(cfg: GraftConfig,
                     mode: HanaTypes.Mode = HanaTypes.RefCompatible,
                     catalogSql: String = HanaCatalogSql,
                     normalize: Boolean = false) = {
    val cols = fetchCatalog(cfg, catalogSql)
    HanaTypes.schemaFor(
      if (normalize) cols.map { case (n, t) => (n, normalizeTypeName(t)) }
      else cols,
      mode)
  }
}
