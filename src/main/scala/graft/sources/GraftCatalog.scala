package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over a directory of parquet fixture sets:
  * each scale-factor directory is a namespace, each `<table>.parquet`
  * file a table — so the whole engine surface is addressable from plain
  * SQL with three-part names, no temp-view ceremony:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/root/testdata")
  *   spark.sql("SELECT count(*) FROM graft.`sf0.001`.lineitem")
  *   spark.sql("SHOW TABLES IN graft.`sf0.001`")
  * }}}
  *
  * Read path: tables resolve to Spark's own DSv2 `ParquetTable`, so
  * column pruning, predicate pushdown, and the vectorized reader all
  * apply exactly as with `spark.read.parquet` — the catalog adds naming,
  * not a bespoke reader. Read-only by design (the fixtures are
  * immutable): create/alter/drop throw `UnsupportedOperationException`.
  *
  * `events.parquet` has shipped both TIMESTAMP(NANOS) and timestamp[us]
  * across fixture regenerations. Loading `events` turns on `nanosAsLong`
  * so a nanos file can't fail inference; the catalog then surfaces `ts`
  * at its inferred type — BIGINT epoch-nanos for nanos files (rebuild a
  * timestamp with `timestamp_micros(ts div 1000)`), a plain timestamp
  * for µs files. Consumers must branch on the schema, never assume one
  * physical encoding (see [[graft.engine.Engine.table]]).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private var root: String = "/root/testdata"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.getOrDefault("root", root)
  }

  override def name(): String = catalogName

  private def nsDir(namespace: Array[String]): java.io.File = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    val dir = new java.io.File(root, namespace.head)
    if (!dir.isDirectory) throw new NoSuchNamespaceException(namespace)
    dir
  }

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val base = new java.io.File(root)
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => Array(d.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else { nsDir(namespace); Array.empty } // flat: no nested namespaces

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val dir = nsDir(namespace)
    Map("location" -> dir.getAbsolutePath).asJava
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && new java.io.File(root, namespace.head).isDirectory

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => Identifier.of(namespace, f.getName.stripSuffix(".parquet")))
      .sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      new java.io.File(new java.io.File(root, ident.namespace.head),
        s"${ident.name}.parquet").exists()

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    // events has shipped TIMESTAMP(NANOS) in some fixture generations:
    // nanosAsLong lets inference map that to LongType instead of throwing,
    // and is a no-op for µs files; every other table infers as-is. Left
    // set, not scoped: the returned table is scanned later, with this conf
    if (ident.name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new java.io.File(new java.io.File(root, ident.namespace.head),
      s"${ident.name}.parquet").getAbsolutePath
    ParquetTable(ident.name, spark, CaseInsensitiveStringMap.empty(),
      Seq(path), None, classOf[ParquetFileFormat])
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
}
