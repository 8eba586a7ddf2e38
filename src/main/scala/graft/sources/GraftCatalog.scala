package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Session-catalog surface for [[VersionedTable]]: registered as
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog` (with
  * `spark.sql.catalog.<name>.warehouse = <dir>`), it makes the governed
  * table speakable as plain SQL text —
  *
  * {{{
  *   CREATE TABLE cat.issues (id BIGINT, status STRING) USING graft
  *   INSERT INTO cat.issues SELECT ...
  *   INSERT OVERWRITE cat.issues SELECT ...
  *   SELECT ... FROM cat.issues VERSION AS OF 2
  *   SELECT ... FROM cat.issues TIMESTAMP AS OF '...'
  *   ALTER TABLE cat.issues RENAME COLUMN a TO b
  *   DROP TABLE cat.issues
  * }}}
  *
  * — the table-in/table-out surface the reference's users live on
  * (reference `gold.py:41-49`). Every statement lands on the SAME
  * transaction-log protocol as the API surface: INSERT INTO is
  * `appendRetrying` (schema-enforced, conflict-retried), INSERT OVERWRITE
  * is `overwrite`, time travel resolves through the manifest log, reads go
  * through [[GraftTable]] with the ledger-pruned DSv2 scan. A table is a
  * directory `<warehouse>/<namespace...>/<name>` holding the `_txlog`.
  */
final class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def rootFor(ident: Identifier): String = {
    // every FS operation (including recursive DROP/RENAME deletes) roots
    // here — a backticked identifier smuggling '/' or '..' must never
    // resolve outside the warehouse
    val segs = ident.namespace :+ ident.name
    segs.foreach { s =>
      if (s.isEmpty || s == "." || s == ".." ||
        s.contains('/') || s.contains('\\'))
        throw new IllegalArgumentException(
          s"invalid graft identifier segment '$s': path separators and " +
            "dot segments would escape the warehouse root")
    }
    (warehouse +: segs).mkString("/")
  }

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isTableDir(p: Path): Boolean = {
    val f = fs(p)
    f.exists(new Path(p, "_txlog")) ||
      f.exists(new Path(p, PartitionedVersionedTable.markerName))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = new Path((warehouse +: namespace).mkString("/"))
    val f = fs(nsPath)
    if (!f.exists(nsPath)) Array.empty
    else f.listStatus(nsPath).filter(s => s.isDirectory &&
      isTableDir(s.getPath)).map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(new Path(rootFor(ident)))

  private def openAt(ident: Identifier, versionAsOf: Option[Long],
                     timestampAsOfMs: Option[Long]): Table = {
    val root = rootFor(ident)
    PartitionedVersionedTable.readMarker(spark, root).foreach {
      case (colName, createdSchema, statsCols) =>
        val pvt = new PartitionedVersionedTable(spark, root, colName,
          memberStatsCols = statsCols)
        val schema = pvt.tableSchema.getOrElse(createdSchema)
        val snap = (versionAsOf, timestampAsOfMs) match {
          case (Some(id), _) =>
            if (!pvt.snapshots.contains(id)) throw new NoSuchTableException(ident)
            Some(id)
          case (_, Some(ts)) =>
            // TIMESTAMP AS OF resolves to the newest COORDINATOR snapshot
            // committed at or before ts — the only consistent
            // cross-partition answer (per-member resolution could mix a
            // pre-ts version of one shard with a post-ts version of
            // another: exactly the torn read the snapshot log exists to
            // prevent). Every catalog write commits a snapshot, so the
            // log covers the table's whole history; a pre-history
            // timestamp has no snapshot and rejects.
            val ids = pvt.snapshots.filter(id => pvt.snapshotDetail(id)._2 <= ts)
            if (ids.isEmpty) throw new NoSuchTableException(ident)
            Some(ids.max)
          case _ => None
        }
        return new GraftPartitionedTable(pvt, root, colName, schema, snap)
    }
    if (!isTableDir(new Path(root))) {
      // `cat.t.changes` — the virtual CDF table over `cat.t` (Iceberg's
      // metadata-table spelling), unless a REAL table named `changes`
      // shadows it (checked above). Works over BOTH layouts: flat tables
      // follow the single _txlog; partitioned tables follow the
      // coordinator snapshot log (offsets = snapshot ids).
      if (ident.name.equalsIgnoreCase("changes") && ident.namespace.nonEmpty) {
        val parentRoot = (warehouse +: ident.namespace).mkString("/")
        def rejectTimeTravel(): Unit =
          if (versionAsOf.nonEmpty || timestampAsOfMs.nonEmpty)
            throw new UnsupportedOperationException(
              "time travel is not supported on the changes table; use " +
                "startingVersion to anchor the stream")
        if (fs(new Path(parentRoot)).exists(new Path(parentRoot, "_txlog"))) {
          rejectTimeTravel()
          return new GraftChangesTable(VersionedTable(spark, parentRoot))
        }
        PartitionedVersionedTable.readMarker(spark, parentRoot).foreach {
          case (colName, createdSchema, statsCols) =>
            rejectTimeTravel()
            val pvt = new PartitionedVersionedTable(spark, parentRoot,
              colName, memberStatsCols = statsCols)
            return new GraftPartitionedChangesTable(pvt,
              pvt.tableSchema.getOrElse(createdSchema))
        }
      }
      throw new NoSuchTableException(ident)
    }
    val vt = VersionedTable(spark, root,
      GraftTableProps.statsCols(spark, root))
    val v = (versionAsOf, timestampAsOfMs) match {
      case (Some(v0), _) =>
        if (!vt.versions.contains(v0)) throw new NoSuchTableException(ident)
        v0
      case (_, Some(ts)) =>
        val vs = vt.versions.filter(x => vt.manifestOf(x).timestampMs <= ts)
        if (vs.isEmpty) throw new NoSuchTableException(ident)
        vs.max
      case _ => vt.latestVersion.getOrElse(throw new NoSuchTableException(ident))
    }
    val schema = vt.schemaOf(v).getOrElse(throw new NoSuchTableException(ident))
    new GraftTable(vt, v, schema)
  }

  override def loadTable(ident: Identifier): Table = openAt(ident, None, None)

  /** `VERSION AS OF <n>` — SQL time travel by version number. */
  override def loadTable(ident: Identifier, version: String): Table =
    openAt(ident, Some(java.lang.Long.parseLong(version)), None)

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    openAt(ident, None, Some(timestamp / 1000L))

  /** `TBLPROPERTIES ('stats_cols' = 'a,b')` — the columns whose per-dir
    * min/max + null ledgers every commit records (the data-skipping and
    * metadata-only-aggregate index). Validated against the schema.
    */
  private def statsColsProp(properties: util.Map[String, String],
                            schema: StructType): Seq[String] =
    colListProp(properties, "stats_cols", schema)

  /** `TBLPROPERTIES ('key_cols' = 'id')` — the table's default entity key
    * for the `changes` virtual table, so pure-SQL CDF consumers need no
    * reader option (they have nowhere to put one).
    */
  private def keyColsProp(properties: util.Map[String, String],
                          schema: StructType): Seq[String] =
    colListProp(properties, "key_cols", schema)

  private def colListProp(properties: util.Map[String, String], prop: String,
                          schema: StructType): Seq[String] = {
    val raw = Option(properties.get(prop))
      .orElse(Option(properties.get(s"graft.$prop")))
    raw.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { c =>
      require(schema.fieldNames.contains(c),
        s"$prop column '$c' not in the table schema")
      c
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val statsCols = statsColsProp(properties, schema)
    val keyCols = keyColsProp(properties, schema)
    if (partitions.nonEmpty) {
      // `PARTITIONED BY (col)` routes to the per-partition-log layout
      // (the reference's own physical sharding, `ingest.py:70-72`);
      // finer in-partition clustering stays OPTIMIZE's job
      require(partitions.length == 1,
        "graft tables support a single partition column " +
          "(cluster further via OPTIMIZE)")
      val t = partitions.head
      require(t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1,
        s"only PARTITIONED BY (<top-level column>) is supported, got: $t")
      val colName = t.references.head.fieldNames.head
      require(schema.fieldNames.contains(colName),
        s"partition column $colName not in the table schema")
      val root = rootFor(ident)
      PartitionedVersionedTable.writeMarker(spark, root, colName, schema,
        statsCols)
      // the default CDF entity key rides the same root sidecar flat
      // tables use (the marker keeps layout facts; this is reader config)
      if (keyCols.nonEmpty)
        GraftTableProps.write(spark, root, statsCols, keyCols)
      return new GraftPartitionedTable(
        new PartitionedVersionedTable(spark, root, colName,
          memberStatsCols = statsCols), root, colName, schema)
    }
    val root = rootFor(ident)
    if (statsCols.nonEmpty || keyCols.nonEmpty)
      GraftTableProps.write(spark, root, statsCols, keyCols)
    val vt = VersionedTable(spark, root, statsCols)
    // version 0: the committed schema with zero rows — same protocol as
    // every later commit, so readers/time-travel see a real snapshot
    vt.overwrite(spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema))
    new GraftTable(vt, 0L, schema)
  }

  /** Minimal ALTER support mapped onto the table's mapping overlay:
    * RENAME COLUMN and DROP COLUMN commit through the column-mapping
    * protocol ([[VersionedTable.renameColumn]]/[[VersionedTable.dropColumn]]).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootFor(ident)
    if (!isTableDir(new Path(root))) throw new NoSuchTableException(ident)
    // one change dispatcher for both layouts — the two table forms expose
    // the same three evolution verbs
    val (add, rename, drop, widen):
        ((String, org.apache.spark.sql.types.DataType) => Unit,
         (String, String) => Unit, String => Unit,
         (String, org.apache.spark.sql.types.DataType) => Unit) =
      PartitionedVersionedTable.readMarker(spark, root) match {
        case Some((colName, _, statsCols)) =>
          val pvt = new PartitionedVersionedTable(spark, root, colName,
            memberStatsCols = statsCols)
          (pvt.addColumn, pvt.renameColumn, pvt.dropColumn, pvt.widenColumn)
        case None =>
          val vt = VersionedTable(spark, root,
            GraftTableProps.statsCols(spark, root))
          ((n, t) => { vt.addColumn(n, t); () },
            (o, n) => { vt.renameColumn(o, n); () },
            n => { vt.dropColumn(n); () },
            (n, t) => { vt.widenColumn(n, t); () })
      }
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1, "nested add unsupported")
        require(a.isNullable,
          "added columns must be nullable (pre-add rows read null)")
        require(a.position() == null,
          "only trailing ADD COLUMN is supported on graft tables")
        add(a.fieldNames.head, a.dataType)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1, "nested rename unsupported")
        rename(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1, "nested drop unsupported")
        drop(d.fieldNames.head)
      case u: TableChange.UpdateColumnType =>
        // `ALTER TABLE … ALTER COLUMN x TYPE t` — metadata-only lossless
        // widening ([[VersionedTable.widenColumn]]); narrowing and
        // cross-domain changes reject with the API's message
        require(u.fieldNames.length == 1, "nested type change unsupported")
        widen(u.fieldNames.head, u.newDataType)
      case other => throw new UnsupportedOperationException(
        s"ALTER change not supported on graft tables: $other")
    }
    loadTable(ident)
  }

  /** Maintenance procedures (`CALL cat.compact('t')` etc.) — see
    * [[GraftProcedures]]. The table argument resolves inside this
    * catalog's warehouse (dots as namespace separators).
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(ident.name, { tableName =>
      val parts = tableName.split('.')
      val id = Identifier.of(parts.init, parts.last)
      if (!tableExists(id)) throw new NoSuchTableException(id)
      val root = rootFor(id)
      // flat-only procedures must not construct a broken handle at a
      // partitioned root (no _txlog there — each partition has its own)
      if (PartitionedVersionedTable.readMarker(spark, root).nonEmpty)
        throw new UnsupportedOperationException(
          s"procedure ${ident.name} does not support partitioned tables " +
            "(supported there: compact, optimize, vacuum, history, " +
            "partitions, detail, scan_report, restore, clone)")
      VersionedTable(spark, root, GraftTableProps.statsCols(spark, root))
    }, { tableName =>
      val parts = tableName.split('.')
      rootFor(Identifier.of(parts.init, parts.last))
    }).getOrElse(throw new UnsupportedOperationException(
      s"no procedure ${ident.name} in catalog $catalogName " +
        s"(have: ${GraftProcedures.names.mkString(", ")})"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(Identifier.of(namespace, _)).toArray

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(rootFor(ident))
    isTableDir(p) && fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(rootFor(oldIdent))
    val to = new Path(rootFor(newIdent))
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    val f = fs(from)
    f.mkdirs(to.getParent)
    require(f.rename(from, to), s"rename $from -> $to failed")
  }
}

/** Root-level writer-config sidecar for FLAT catalog tables (the
  * partitioned layout keeps the same facts in `_partitioning.json`):
  * `stats_cols` from CREATE TABLE's TBLPROPERTIES persists here so every
  * later handle the catalog opens — INSERT, DML, procedures — records the
  * per-dir min/max + null ledgers that drive data skipping and
  * metadata-only aggregates. Absent file = no tracked columns (every
  * pre-existing table keeps its exact behavior).
  */
private[sources] object GraftTableProps {

  private val fileName = "_graft_table.json"

  def write(spark: SparkSession, root: String,
            statsCols: Seq[String], keyCols: Seq[String] = Nil): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.createObjectNode()
    val arr = json.putArray("statsCols")
    statsCols.foreach(arr.add)
    if (keyCols.nonEmpty) {
      val ka = json.putArray("keyCols")
      keyCols.foreach(ka.add)
    }
    atomicWrite(spark, root, fileName,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
  }

  /** Tmp-then-rename replacement for the root sidecars: a reader racing
    * CREATE/ALTER (every catalog loadTable reads these) must see either
    * the old or the new complete JSON, never a truncated in-place write.
    * Unlike manifest commits this rename OVERWRITES — sidecars are
    * replaced on ALTER, not versioned.
    */
  private[sources] def atomicWrite(spark: SparkSession, root: String,
                                   name: String, bytes: Array[Byte]): Unit = {
    val dir = new Path(root)
    val conf = spark.sparkContext.hadoopConfiguration
    LogStore.replace(dir.getFileSystem(conf), conf, new Path(dir, name), bytes)
  }

  def statsCols(spark: SparkSession, root: String): Seq[String] =
    readNode(spark, root).map(statsColsArr).getOrElse(Nil)

  /** The table's DEFAULT entity key for the `changes` virtual table
    * (`key_cols` TBLPROPERTIES at CREATE) — lets a pure-SQL consumer say
    * `SELECT * FROM cat.t.changes` with no reader option to hang the key
    * on. The reader option still overrides per query.
    */
  def keyCols(spark: SparkSession, root: String): Seq[String] =
    readNode(spark, root).toSeq.flatMap(node =>
      Option(node.get("keyCols")).toSeq.flatMap(arr =>
        (0 until arr.size()).map(arr.get(_).asText())))

  private def readNode(spark: SparkSession,
      root: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val p = new Path(root, fileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes))
    }
  }

  /** The shared `statsCols` array codec — this sidecar and the
    * partitioning marker serialize the fact identically.
    */
  private[sources] def statsColsArr(
      node: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Option(node.get("statsCols")).toSeq.flatMap(arr =>
      (0 until arr.size()).map(arr.get(_).asText()))
}
