package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException

/** Staleness guard for build-once / read-many derived catalog tables
  * (bucketed facts, cluster assignments, ANN indexes, partitioned
  * layouts, persisted models). Each derived table records the
  * [[Tables.fingerprint]] of its SOURCE data in TBLPROPERTIES at build
  * time, the `Tables` catalog's own invalidation key on any Hadoop path,
  * and is rebuilt when the data on disk no longer matches (an in-place
  * regeneration under the same path). No file-system code lives here.
  */
object DerivedTables {
  private val Prop = "graft.fingerprint"

  /** The stamp on `table`, or None when the table is absent. Any other
    * catalog failure propagates: a broken metastore is not "stale". */
  private def recorded(s: SparkSession, table: String): Option[String] =
    try {
      s.sessionState.catalog.getTableMetadata(TableIdentifier(table))
        .properties.get(Prop)
    } catch { case _: NoSuchTableException => None }

  /** Table exists AND its recorded source fingerprint matches `fp`.
    * A table written before fingerprinting existed (no property)
    * counts as stale — rebuilt once, then stamped. */
  def fresh(s: SparkSession, table: String, fp: String): Boolean =
    recorded(s, table).contains(fp)

  def stamp(s: SparkSession, table: String, fp: String): Unit =
    s.sql(s"ALTER TABLE $table SET TBLPROPERTIES('$Prop'='$fp')")

  /** All of `tables` fresh against `fp`; otherwise run `build` (which
    * must create every table in the list) and stamp them all. */
  def ensure(s: SparkSession, tables: Seq[String], fp: String)
            (build: => Unit): Unit =
    if (!tables.forall(fresh(s, _, fp))) {
      build
      tables.foreach(stamp(s, _, fp))
    }

  /** Optional-fingerprint flavor for ensure* helpers whose callers may
    * not know the source path: with a fingerprint, present means
    * fresh; without one, merely existing (the pre-guard behavior). */
  def presentOrExists(s: SparkSession, tables: Seq[String],
                      fp: Option[String]): Boolean = fp match {
    case Some(f) => tables.forall(fresh(s, _, f))
    case None => tables.forall(s.catalog.tableExists)
  }

  def stampAll(s: SparkSession, tables: Seq[String],
               fp: Option[String]): Unit =
    fp.foreach(f => tables.foreach(stamp(s, _, f)))
}
