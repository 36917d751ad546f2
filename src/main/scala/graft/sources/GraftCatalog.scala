package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A [[TableCatalog]] over [[ManifestSink]] tables — the piece that
  * turns the mini table format into a full SQL surface. Register once:
  *
  * {{{
  * spark.conf: spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *             spark.sql.catalog.graft.base = /warehouse/dir
  * }}}
  *
  * then every DDL/DML statement routes through the V2 connector stack:
  *
  *   - `CREATE TABLE graft.db.t (...) PARTITIONED BY (c)` → a table
  *     directory + persisted `_table.json` (schema, partition columns)
  *   - `INSERT INTO` / `INSERT OVERWRITE` → the two-phase committer
  *     (partitioned writes when the table declares partition columns)
  *   - `SELECT ... FROM graft.db.t` → manifest scan with file skipping
  *   - `SELECT ... FROM graft.db.t VERSION AS OF 3` → retained-snapshot
  *     time travel ([[TableCatalog.loadTable(Identifier, String)]])
  *   - `DELETE FROM graft.db.t WHERE part = x` → metadata-only delete
  *     through [[ManifestTable.deleteWhere]]
  *
  * Tables live at `<base>/<namespace...>/<name>`; the catalog is just
  * the name→directory mapping plus schema persistence — every
  * transactional guarantee stays in the manifest committer, where a
  * catalog outage cannot corrupt it. Metadata file `_table.json` is
  * created exclusively (concurrent CREATE of the same name fails
  * loudly) and rewritten only by ALTER TABLE, via atomic swap.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var base: Path = _
  private var stagedTtlMs: Long = 24L * 3600 * 1000

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val b = options.get("base")
    require(b != null,
      s"catalog $name needs spark.sql.catalog.$name.base = <warehouse dir>")
    base = Paths.get(b)
    Files.createDirectories(base)
    stagedTtlMs = Option(options.get("stagedttlms")).map(_.toLong)
      .getOrElse(24L * 3600 * 1000)
    require(stagedTtlMs > 0, "stagedttlms must be positive")
  }

  override def name(): String = catalogName

  /** COLUMN DEFAULT VALUES (Iceberg v3's initial-defaults): declaring
    * the capability makes Spark's analysis encode `DEFAULT` clauses
    * into StructField metadata (CURRENT_DEFAULT fills future INSERTs
    * that omit the column; EXISTS_DEFAULT is what rows written BEFORE
    * the column existed read back). The schema JSON round-trips the
    * metadata, and the NDJSON reader serves EXISTS_DEFAULT for ABSENT
    * payload keys — unambiguous because the writer always renders
    * every schema key, so absence means "file predates the column",
    * never "value was null". */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // ANSI table constraints (enforced CHECK + informational
      // PK/UNIQUE/FK) — see the constraint helpers on the companion.
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // Generated columns: accepted at CREATE (expression persisted in
      // the field metadata), COMPUTED on insert-shaped writes by the
      // [[GraftGeneratedColumns]] resolution rule.
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      // IDENTITY columns (round-17, [[GraftIdentity]]): values
      // allocated at COMMIT time under the publish lock — the design
      // that stays collision-free under queued concurrent appends (a63
      // semantics), where analysis-time range minting would collide.
      // Writers store negative local placeholders; the commit assigns
      // each file's base against the persisted high-water mark.
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def dirOf(ident: Identifier): Path = {
    // Path traversal guard: identifiers are directory names, never paths.
    (ident.namespace() :+ ident.name()).foreach(part =>
      require(!part.contains("/") && !part.contains("\\") && part != ".." &&
        part.nonEmpty, s"invalid identifier part: '$part'"))
    ident.namespace().foldLeft(base)(_.resolve(_)).resolve(ident.name())
  }

  import GraftCatalog.metaPath

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(base)(_.resolve(_))
    if (!Files.isDirectory(nsDir)) return Array.empty
    val ls = Files.list(nsDir)
    try {
      val it = ls.iterator()
      val out = collection.mutable.ArrayBuffer[Identifier]()
      while (it.hasNext) {
        val p = it.next()
        // Staged CTAS directories (dot-prefixed `.{name}._staged_*`)
        // carry their meta for one instant before the commit rename —
        // never list them as tables. The dot prefix keeps the filter
        // from hiding a real table whose NAME merely contains the
        // marker substring.
        val fn = p.getFileName.toString
        if (Files.exists(metaPath(p)) &&
            !(fn.startsWith(".") && fn.contains("._staged_")))
          out += Identifier.of(namespace, fn)
      }
      out.toArray
    } finally ls.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    Files.exists(metaPath(dirOf(ident)))

  /** Create-exclusive publish of `_table.json`: two racing CREATEs
    * cannot both win. ALTER rewrites go through
    * [[GraftCatalog.overwriteMeta]]. */
  private def createMeta(dir: Path, schema: StructType,
      partCols: Seq[String], props: Map[String, String]): Unit = {
    if (!Publish.create(metaPath(dir))(
        Files.write(_, GraftCatalog.metaBytes(schema, partCols, props))))
      throw new TableAlreadyExistsException(
        Seq(name()) ++ dirToIdentParts(dir))
    GraftCatalog.invalidateMeta(dir)
  }

  private def dirToIdentParts(dir: Path): Seq[String] =
    base.relativize(dir).iterator().asScalaSeq.map(_.toString)

  private def readMeta(dir: Path): (StructType, Seq[String], Map[String, String]) =
    GraftCatalog.readMeta(dir)

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `t$history` / `t$files` /
    // `t$partitions` expose the format's own bookkeeping relationally
    // (see [[MetadataTables]]).
    Seq(MetadataTables.HistorySuffix -> MetadataTables.historySchema,
        MetadataTables.FilesSuffix -> MetadataTables.filesSchema,
        MetadataTables.PartitionsSuffix -> MetadataTables.partitionsSchema,
        MetadataTables.TagsSuffix -> MetadataTables.tagsSchema)
      .foreach { case (suffix, metaSchema) =>
        if (ident.name().endsWith(suffix)) {
          val baseIdent = Identifier.of(ident.namespace(),
            ident.name().stripSuffix(suffix))
          val dir = dirOf(baseIdent)
          if (!Files.exists(metaPath(dir)))
            throw new NoSuchTableException(Seq(name()) ++
              ident.namespace().toSeq :+ ident.name())
          val d = dir.toString
          val compute: () => Array[org.apache.spark.sql.catalyst.InternalRow] =
            suffix match {
              case MetadataTables.HistorySuffix =>
                () => MetadataTables.historyRows(d)
              case MetadataTables.FilesSuffix =>
                () => MetadataTables.filesRows(d)
              case MetadataTables.TagsSuffix =>
                () => MetadataTables.tagsRows(d)
              case _ =>
                val partCols = readMeta(dir)._2
                () => MetadataTables.partitionsRows(d, partCols)
            }
          return new MetadataTable(s"${name()}.${ident.name()}", metaSchema,
            compute)
        }
      }
    val dir = dirOf(ident)
    if (!Files.exists(metaPath(dir)))
      throw new NoSuchTableException(Seq(name()) ++
        ident.namespace().toSeq :+ ident.name())
    val (schema, partCols, props) = readMeta(dir)
    new ManifestTable(dir.toString, schema, None, partCols, props)
  }

  /** `VERSION AS OF v` time travel — a numeric version resolves a
    * RETAINED generation of the manifest (tables written with
    * retainHistory); a non-numeric one resolves through the table's
    * TAGS first and then its BRANCHES (the Iceberg shared ref
    * namespace: `VERSION AS OF 'training-v1'` reads a pinned snapshot,
    * `VERSION AS OF 'audit'` reads a branch's CURRENT state). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!Files.exists(metaPath(dir)))
      throw new NoSuchTableException(Seq(name()) ++
        ident.namespace().toSeq :+ ident.name())
    val (schema, partCols, props) = readMeta(dir)
    if (version.nonEmpty && version.forall(_.isDigit))
      return new ManifestTable(dir.toString, schema, Some(version.toLong),
        partCols, props)
    ManifestSink.readTags(dir.toString).get(version) match {
      case Some(gen) =>
        new ManifestTable(dir.toString, schema, Some(gen), partCols, props)
      case None =>
        val bdir = ManifestOps.branchPath(dir.toString, version)
        if (Files.exists(bdir.resolve("_branch.json")))
          new ManifestTable(bdir.toString, schema, None, partCols, props)
        else throw new IllegalArgumentException(
          s"table ${ident.name()} has no tag or branch '$version'; tags: " +
            ManifestSink.readTags(dir.toString).keys.toSeq.sorted
              .mkString(", "))
    }
  }

  /** `TIMESTAMP AS OF t` time travel: resolve the newest commit at or
    * before `t` (Spark hands micros since epoch) from the provenance
    * stamps the pointer carries, then read that generation. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!Files.exists(metaPath(dir)))
      throw new NoSuchTableException(Seq(name()) ++
        ident.namespace().toSeq :+ ident.name())
    val commits = ManifestSink.history(dir.toString)
    val at = commits.filter(c => c.ts * 1000L <= timestampMicros)
      .sortBy(_.generation).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no commit of ${ident.name()} at or before timestamp " +
            s"${timestampMicros}us — earliest retained is " +
            commits.sortBy(_.generation).headOption
              .map(c => s"generation ${c.generation} at ${c.ts}ms")
              .getOrElse("<none>")))
    val (schema, partCols, props) = readMeta(dir)
    new ManifestTable(dir.toString, schema,
      if (at.current) None else Some(at.generation), partCols, props)
  }

  /** The V2 functions this catalog serves — `bucket`, which is what
    * lets Spark RESOLVE a reported `bucket(n, col)` transform and run
    * storage-partitioned joins over bucketed tables (the Iceberg
    * SystemFunctions pattern). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
      ident)

  private def parseTransforms(schema: StructType,
      partitions: Array[Transform]): Seq[String] = {
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" => t.references()(0).fieldNames().mkString(".")
      case t if t.name == "bucket" =>
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a bucket count: $t"))
        s"bucket($n,${t.references()(0).fieldNames().mkString(".")})"
      case t => throw new IllegalArgumentException(
        s"GraftCatalog supports identity and bucket partitioning, got $t")
    }
    partCols.map(PartSpec.parse).foreach(sp =>
      require(schema.fieldNames.contains(sp.col),
        s"partition column '${sp.col}' is not in the table schema"))
    partCols
  }

  /** Keep user TBLPROPERTIES; drop Spark's internal bookkeeping keys. */
  private def cleanProps(properties: util.Map[String, String]): Map[String, String] = {
    val it = properties.entrySet().iterator()
    val b = collection.mutable.Map[String, String]()
    while (it.hasNext) { val e = it.next(); b(e.getKey.toLowerCase) = e.getValue }
    b.toMap -- Seq("provider", "owner", "location", "external", "comment")
  }

  /** The one table-creation path both createTable overloads and the
    * staged (CTAS) route share — a guard added here covers them all. */
  private def createAt(ident: Identifier, schema: StructType,
      partitions: Array[Transform], props: Map[String, String]): Table = {
    val partCols = parseTransforms(schema, partitions)
    val dir = dirOf(ident)
    Files.createDirectories(dir)
    ManifestSink.codecOf(props) // validate loudly at CREATE, not at write
    GraftCatalog.validateIdentity(schema, partCols, props)
    createMeta(dir, schema, partCols, props)
    new ManifestTable(dir.toString, schema, None, partCols, props)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createAt(ident, schema, partitions, cleanProps(properties))

  /** What the StructType flattening DROPS off a TableInfo, recovered
    * and validated: GENERATED ALWAYS AS expressions re-attached to
    * field metadata (so they persist in `_table.json` and
    * [[GraftGeneratedColumns]] can re-hydrate them), and constraints
    * rendered into properties. Every TableInfo entry point — plain
    * CREATE, staged CTAS, staged REPLACE — must route through here or
    * it silently creates a weaker table. */
  private def enrichInfo(
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : (StructType, Map[String, String]) = {
    val genByName = info.columns().iterator
      .flatMap(c => Option(c.generationExpression()).map(c.name() -> _))
      .toMap
    val identByName = info.columns().iterator
      .flatMap(c => Option(c.identityColumnSpec()).map(c.name() -> _))
      .toMap
    val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
    val schema = StructType(info.schema().fields.map { f0 =>
      val f = genByName.get(f0.name).fold(f0) { sql =>
        f0.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f0.metadata)
          .putString(GraftCatalog.GenerationExpressionKey, sql).build())
      }
      identByName.get(f.name).fold(f) { spec =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(ic.IDENTITY_INFO_START, spec.getStart)
          .putLong(ic.IDENTITY_INFO_STEP, spec.getStep)
          .putBoolean(ic.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            spec.isAllowExplicitInsert)
          .build())
      }
    })
    GraftCatalog.validateGeneration(schema, genByName)
    val cons = info.constraints().toSeq
    require(cons.map(_.name().toLowerCase).distinct.size == cons.size,
      "constraint names must be unique (case-insensitive): " +
        cons.map(_.name()).mkString(", "))
    (schema,
      cleanProps(info.properties()) ++ cons.map(GraftCatalog.renderConstraint))
  }

  /** The TableInfo entry point is where `CREATE TABLE (..., CONSTRAINT
    * c CHECK (...))` and generated columns arrive. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val (schema, props) = enrichInfo(info)
    createAt(ident, schema, info.partitions(), props)
  }

  /** Schema evolution, NDJSON-native: columns are looked up BY NAME at
    * read time and a missing key reads as null, so ADD (nullable)
    * COLUMNS needs no data rewrite — old files serve nulls; DROP
    * narrows the read schema — old files' extra keys are parsed past
    * and discarded. RENAME appends to the table's rename log
    * ([[SchemaEvolution]]): old files keep their vintage payload keys
    * and every name-keyed read path resolves through the log, so the
    * rename is metadata-only even against a million committed files.
    * Type changes accept WIDENING upcasts only (int-family, float →
    * double): text payloads and stat tokens re-parse exactly under the
    * wider type; bucket-source columns refuse (bucket hashing is
    * width-sensitive). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!Files.exists(metaPath(dir)))
      throw new NoSuchTableException(Seq(name()) ++
        ident.namespace().toSeq :+ ident.name())
    // The whole read-modify-swap runs under the table's publish lock
    // (round-17): the AddConstraint version check below and the meta
    // swap must be one atomic step against concurrent data commits —
    // without the lock, a commit could land between the check and the
    // swap and reopen exactly the race the check closes. Data commits
    // hold the same lock, so both sides serialize.
    ManifestSink.withPublishLock(dir) {
    var (schema, partCols, props) = readMeta(dir)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "nested column adds are not supported (payload rows are flat)")
        val col = add.fieldNames()(0)
        require(!schema.fieldNames.contains(col), s"column '$col' exists")
        // A name any rename step ever used is RETIRED: files written
        // under it still carry its payload key, which would leak into
        // the new column.
        require(!SchemaEvolution.logNames(
            SchemaEvolution.parseLog(props)).contains(col),
          s"column name '$col' was used by an earlier RENAME and is " +
            "retired (pre-rename files still carry it); pick a fresh name")
        require(add.isNullable || add.defaultValue() != null,
          s"added column '$col' must be nullable or carry a DEFAULT: " +
            "files written before the ALTER read it as null/default")
        require(NdjsonCodec.supported(add.dataType()),
          s"added column '$col' has unsupported type ${add.dataType()}")
        // A DEFAULT clause encodes into the field's CURRENT_DEFAULT /
        // EXISTS_DEFAULT metadata (the SUPPORT_COLUMN_DEFAULT_VALUE
        // contract): CURRENT fills future INSERTs that omit the
        // column, EXISTS is what pre-ADD rows read back — rendered
        // from the FOLDED literal, so it is a constant forever even if
        // the current default later changes.
        val fld = org.apache.spark.sql.types.StructField(
          col, add.dataType(), add.isNullable)
        schema = schema.add(Option(add.defaultValue()).fold(fld) { dv =>
          val lit = org.apache.spark.sql.catalyst.expressions.Literal(
            dv.getValue.value(), dv.getValue.dataType())
          val rd = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          fld.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(rd.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
              Option(dv.getSql).filter(_.nonEmpty).getOrElse(lit.sql))
            .putString(rd.EXISTS_DEFAULT_COLUMN_METADATA_KEY, lit.sql)
            .build())
        })
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested deletes unsupported")
        val col = del.fieldNames()(0)
        require(schema.fieldNames.contains(col), s"no column '$col'")
        // Parse the specs: a bucket partition is persisted as
        // "bucket(n,col)", so a raw contains() check would let the
        // SOURCE column of a bucket spec be dropped — leaving the
        // partition spec referencing a nonexistent column and failing
        // every subsequent INSERT.
        require(!PartSpec.parseAll(partCols).exists(_.col == col),
          s"cannot drop partition column '$col'")
        // Dropping a column a CHECK predicate or another column's
        // generation expression references would brick every later
        // INSERT ('references unknown column') with no ALTER to fix
        // the stored SQL — refuse while the reference stands. Dropping
        // the GENERATED column itself is fine (the feature goes away).
        GraftCatalog.requireUnreferenced(schema, props, col, "drop")
        schema = StructType(schema.fields.filterNot(_.name == col))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1, "nested renames unsupported")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        require(schema.fieldNames.contains(from), s"no column '$from'")
        require(!schema.fieldNames.contains(to), s"column '$to' exists")
        // Stored constraint / generation SQL does not follow renames —
        // refuse rather than silently orphan the reference.
        GraftCatalog.requireUnreferenced(schema, props, from, "rename")
        val log = SchemaEvolution.parseLog(props)
        require(!SchemaEvolution.logNames(log).contains(to),
          s"column name '$to' was used by an earlier RENAME and is " +
            "retired (pre-rename files still carry it); pick a fresh name")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        // Partition specs and the bloom-column declaration follow the
        // rename; per-file metadata (manifest entries, sidecars, key
        // files) stays vintage on disk and normalizes at read.
        val step = Map(from -> to)
        partCols = partCols.map(SchemaEvolution.renameSpec(_, step))
        props.get("bloomcolumns").foreach { bc =>
          props = props + ("bloomcolumns" -> bc.split(",").map(_.trim)
            .map(c =>
              if (c == from) to
              // dotted nested-leaf index under the renamed struct
              else if (c.startsWith(from + ".")) to + c.drop(from.length)
              else c).mkString(","))
        }
        props = props +
          (SchemaEvolution.PropKey -> SchemaEvolution.renderLog(log :+ (from -> to)))
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1, "nested type changes unsupported")
        val col = upd.fieldNames()(0)
        val fld = schema.fields.find(_.name == col).getOrElse(
          throw new IllegalArgumentException(s"no column '$col'"))
        val to = upd.newDataType()
        require(SchemaEvolution.canWiden(fld.dataType, to),
          s"only widening type changes are supported " +
            s"(${fld.dataType.simpleString} -> ${to.simpleString} is not): " +
            "text payloads re-parse exactly under a wider type; anything " +
            "else would need a data rewrite")
        // Bucket hashing is WIDTH-SENSITIVE (Murmur3 over the Catalyst
        // value): widening a bucket-source column would split one
        // logical key across two bucket ids, corrupting bucket pruning
        // and storage-partitioned joins on pre-widen files.
        require(!PartSpec.parseAll(partCols).exists {
          case BucketPart(_, c) => c == col
          case _ => false
        }, s"cannot widen bucket-source column '$col': bucket hashes are " +
          "width-sensitive, pre-widen files would stop matching their buckets")
        schema = StructType(schema.fields.map(f =>
          if (f.name == col) f.copy(dataType = to) else f))
      case upd: TableChange.UpdateColumnDefaultValue =>
        // Changes CURRENT_DEFAULT only (future INSERTs that omit the
        // column); EXISTS_DEFAULT — what pre-ADD rows read — is
        // immutable once set, so history never rewrites itself.
        require(upd.fieldNames().length == 1, "nested defaults unsupported")
        val col = upd.fieldNames()(0)
        require(schema.fieldNames.contains(col), s"no column '$col'")
        val rd = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        val sql = Option(upd.newCurrentDefault()).map(_.getSql)
          .orElse(Option(upd.newDefaultValue())).filter(s => s != null && s.nonEmpty)
        schema = StructType(schema.fields.map { f =>
          if (f.name != col) f
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            sql match {
              case Some(s) =>
                mb.putString(rd.CURRENT_DEFAULT_COLUMN_METADATA_KEY, s)
              case None => // DROP DEFAULT
                mb.remove(rd.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
            }
            f.copy(metadata = mb.build())
          }
        })
      case set: TableChange.SetProperty =>
        require(set.property().toLowerCase != SchemaEvolution.PropKey,
          s"'${SchemaEvolution.PropKey}' is maintained by ALTER TABLE " +
            "RENAME COLUMN and cannot be set directly")
        // A raw SET could inject a VALID-status "constraint" no
        // existing-row validation scan ever checked — the namespace is
        // owned by ADD/DROP CONSTRAINT (same guard the rename log has).
        require(!set.property().toLowerCase
            .startsWith(GraftCatalog.ConstraintPropPrefix),
          s"'${set.property()}' is maintained by ALTER TABLE ADD " +
            "CONSTRAINT and cannot be set directly")
        if (set.property().toLowerCase == "codec")
          ManifestSink.codecOf(Map("codec" -> set.value()))
        props = props + (set.property().toLowerCase -> set.value())
      case rm: TableChange.RemoveProperty =>
        require(rm.property().toLowerCase != SchemaEvolution.PropKey,
          s"'${SchemaEvolution.PropKey}' is maintained by ALTER TABLE " +
            "RENAME COLUMN and cannot be unset (pre-rename files resolve " +
            "through it)")
        require(!rm.property().toLowerCase
            .startsWith(GraftCatalog.ConstraintPropPrefix),
          s"'${rm.property()}' is maintained by ALTER TABLE DROP " +
            "CONSTRAINT and cannot be unset directly")
        props = props - rm.property().toLowerCase
      case add: TableChange.AddConstraint =>
        // ALTER TABLE ... ADD CONSTRAINT: for an enforced VALID check
        // Spark has already run the validation scan over existing rows
        // before calling here — but rows COMMITTED since that scan by a
        // writer that resolved the table pre-ALTER (so its plan carries
        // no CHECK validation) were never checked. ManifestTable
        // reports the manifest generation as its connector version;
        // Spark stamps the generation the validation scan read into
        // validatedTableVersion, and this swap (lock-held, see below)
        // refuses if the table advanced past it — re-running the ALTER
        // re-validates against the current generation. Writers landing
        // AFTER the swap are the commit-side check's problem
        // ([[ManifestSink.requireNoConstraintDrift]]).
        Option(add.validatedTableVersion()).foreach { v =>
          val now = ManifestSink.committedGeneration(dir.toString)
          require(v == now.toString,
            s"constraint '${add.constraint().name()}' was validated " +
              s"against table version $v but the table is now at $now — " +
              "rows committed in between were never checked; re-run the " +
              "ALTER to re-validate")
        }
        val (k, v) = GraftCatalog.renderConstraint(add.constraint())
        require(!props.contains(k),
          s"constraint '${add.constraint().name()}' already exists")
        props = props + (k -> v)
      case drop: TableChange.DropConstraint =>
        val k = GraftCatalog.ConstraintPropPrefix + drop.name().toLowerCase
        require(props.contains(k) || drop.ifExists(),
          s"table has no constraint '${drop.name()}'")
        props = props - k
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ALTER: $other (non-widening retypes would " +
            "silently orphan name-keyed payload data)")
    }
    GraftCatalog.overwriteMeta(dir, schema, partCols, props)
    new ManifestTable(dir.toString, schema, None, partCols, props)
    } // withPublishLock
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!Files.exists(metaPath(dir))) return false
    deleteTree(dir) // contents bottom-up, then the directory itself
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    if (!Files.exists(metaPath(from)))
      throw new NoSuchTableException(Seq(name()) ++
        oldIdent.namespace().toSeq :+ oldIdent.name())
    val to = dirOf(newIdent)
    if (Files.exists(to))
      throw new TableAlreadyExistsException(Seq(name()) ++
        newIdent.namespace().toSeq :+ newIdent.name())
    Files.createDirectories(to.getParent)
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
  }

  // ----- StagingTableCatalog: ATOMIC CTAS / RTAS. Without this
  // capability Spark executes `REPLACE TABLE t AS SELECT` as
  // drop-then-create-then-write — a crash mid-query leaves the table
  // GONE, which a 100 TB nightly rebuild cannot risk. With it:
  //
  //  - CTAS stages into a hidden sibling directory
  //    (`.<name>._staged_<nonce>`, invisible to listTables/loadTable —
  //    no `_table.json` until commit) and commits by writing the meta
  //    file THEN one atomic directory rename: the table appears
  //    complete, data and all, in a single filesystem commit point;
  //    a racing plain CREATE makes the rename fail loudly
  //    (create-exclusive), never merge.
  //  - RTAS stages into the LIVE directory through the normal
  //    two-phase writer but DEFERS the manifest publish: the inner
  //    BatchWrite.commit stashes its commit messages, and
  //    commitStagedChanges replays them as a TRUNCATE commit (one
  //    atomic manifest swap retiring every old file — the same swap
  //    INSERT OVERWRITE trusts), then swaps `_table.json` for
  //    schema/partitioning/property changes. The old table stays
  //    fully readable until that swap; a crash at ANY earlier point
  //    leaves it untouched (staged task files are orphans for vacuum).
  //    The one non-atomic seam — manifest swapped, meta not — only
  //    exists when the RTAS CHANGES the schema, lasts two adjacent
  //    atomic renames, and resolves to the documented absent-key /
  //    stand-down read semantics; re-running the RTAS repairs it.
  private def stagedName(ident: Identifier): Path =
    dirOf(ident).getParent.resolve(
      s".${ident.name()}._staged_" +
        java.util.UUID.randomUUID().toString.take(8))

  /** A crashed CTAS driver never reaches abortStagedChanges, leaving
    * its hidden staged directory (and the full staged dataset) on
    * disk where no table-scoped vacuum can see it. Every new staging
    * operation in a namespace reclaims siblings whose HEARTBEAT has
    * gone stale: a live [[StagedCreate]] touches `_staging_heartbeat`
    * inside its directory on a daemon timer (the dir's own top-level
    * mtime idles while the write job fills SUBdirectories — round-17,
    * a legitimately long staged CTAS must never be swept from under
    * its own commit), so only a dead driver's directory ages past the
    * TTL. The TTL is a catalog option (`stagedttlms`, default 24h)
    * rather than a constant, for deployments whose rebuilds outlive a
    * day or whose tests need it short. */
  private def sweepStaleStaged(nsDir: Path): Unit = {
    if (!Files.isDirectory(nsDir)) return
    val cutoff = System.currentTimeMillis() - stagedTtlMs
    val ls = Files.list(nsDir)
    try {
      val it = ls.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith(".") && n.contains("._staged_") &&
            Files.isDirectory(p) && {
              // Newest of (dir mtime, heartbeat mtime): pre-heartbeat
              // dirs (or one whose first beat hasn't landed) still age
              // off the directory itself.
              val beats = Seq(p, p.resolve(GraftCatalog.HeartbeatFile))
                .flatMap(f => scala.util.Try(
                  Files.getLastModifiedTime(f).toMillis).toOption)
              beats.nonEmpty && beats.max < cutoff
            })
          scala.util.Try(deleteTree(p)) // best-effort GC, never fail a DDL
      }
    } finally ls.close()
  }

  private def identSeq(ident: Identifier): Seq[String] =
    Seq(name()) ++ ident.namespace().toSeq :+ ident.name()

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreateAt(ident, schema, partitions, cleanProps(properties))

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageReplaceAt(ident, schema, partitions, cleanProps(properties))

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (tableExists(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  // Spark's default TableInfo → legacy delegation DROPS constraints
  // and generation expressions — every staged entry point must enrich
  // first, or `REPLACE TABLE t (..., CONSTRAINT c CHECK (...))`
  // silently creates an unconstrained table.
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (schema, props) = enrichInfo(info)
    stageCreateAt(ident, schema, info.partitions(), props)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (schema, props) = enrichInfo(info)
    stageReplaceAt(ident, schema, info.partitions(), props)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (tableExists(ident)) stageReplace(ident, info)
    else stageCreate(ident, info)

  private def stageCreateAt(ident: Identifier, schema: StructType,
      partitions: Array[Transform], props: Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partCols = parseTransforms(schema, partitions)
    ManifestSink.codecOf(props)
    GraftCatalog.validateIdentity(schema, partCols, props)
    if (tableExists(ident))
      throw new TableAlreadyExistsException(identSeq(ident))
    val finalDir = dirOf(ident)
    Files.createDirectories(finalDir.getParent)
    sweepStaleStaged(finalDir.getParent)
    val staging = stagedName(ident)
    Files.createDirectories(staging)
    new StagedCreate(staging, finalDir, identSeq(ident), schema, partCols,
      props)
  }

  private def stageReplaceAt(ident: Identifier, schema: StructType,
      partitions: Array[Transform], props: Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partCols = parseTransforms(schema, partitions)
    ManifestSink.codecOf(props)
    GraftCatalog.validateIdentity(schema, partCols, props)
    if (!tableExists(ident))
      throw new NoSuchTableException(identSeq(ident))
    new StagedReplace(dirOf(ident), identSeq(ident), schema, partCols, props)
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Staged CTAS target: a full [[ManifestTable]] over the hidden
    * staging directory — the write job runs the normal two-phase
    * committer there, invisible to every reader. Commit = meta write
    * + ONE atomic rename into place. */
  private class StagedCreate(staging: Path, finalDir: Path,
      identParts: Seq[String], tblSchema: StructType,
      partCols: Seq[String], props: Map[String, String])
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    private val inner =
      new ManifestTable(staging.toString, tblSchema, None, partCols, props)
    // Liveness for the namespace sweep: without the beat, a staged
    // write longer than the TTL (whose top-level dir mtime idles while
    // tasks fill subdirectories) could be GC'd from under its own
    // commit by any concurrent staging op.
    private val heartbeat = GraftCatalog.startHeartbeat(staging, stagedTtlMs)
    override def name(): String = identParts.mkString(".")
    override def schema(): StructType = tblSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def partitioning(): Array[Transform] = inner.partitioning()
    override def properties(): util.Map[String, String] = inner.properties()
    // Spark's analyzer reads constraints() off the STAGED table when
    // planting write-time CHECK validation — the Table default is
    // empty, which would let a constraint-carrying staged write land
    // unvalidated data into a table that then reports the constraint
    // as enforced.
    override def constraints(): Array[
        org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      inner.constraints()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)
    override def commitStagedChanges(): Unit = {
      heartbeat.close() // stops the timer AND removes the beat file
      createMeta(staging, tblSchema, partCols, props)
      try Files.move(staging, finalDir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException =>
          deleteTree(staging)
          throw new TableAlreadyExistsException(identParts)
      }
    }
    override def abortStagedChanges(): Unit = {
      heartbeat.close()
      deleteTree(staging)
    }
  }

  /** Staged RTAS target over the LIVE directory: the write runs the
    * normal committer (staged task files land invisibly), but the
    * publish is stashed and replayed as a TRUNCATE commit inside
    * [[commitStagedChanges]] — the old table is intact until that one
    * manifest swap. A bare `REPLACE TABLE` (no AS SELECT — Spark
    * commits the staged table without ever writing) publishes the
    * truncate directly.
    *
    * Concurrency posture: the data commit is the conflict-detecting
    * truncate shape (short lock wait, loud failure on contention), and
    * appends landing AFTER it compose onto the replaced table — the
    * standard replace-then-append serialization. TWO simultaneous RTAS
    * of the SAME table can interleave their (data, meta) swaps so the
    * survivor's data pairs with the loser's schema — a pathological
    * op (one nightly rebuild owns a table); serialize writers or use
    * [[GraftTxn]] if a pipeline genuinely needs racing replaces. */
  private class StagedReplace(dir: Path, identParts: Seq[String],
      tblSchema: StructType, partCols: Seq[String],
      props: Map[String, String])
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
    private val inner =
      new ManifestTable(dir.toString, tblSchema, None, partCols, props)
    @volatile private var pending
        : Option[(BatchWrite, Array[WriterCommitMessage])] = None
    override def name(): String = identParts.mkString(".")
    override def schema(): StructType = tblSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def partitioning(): Array[Transform] = inner.partitioning()
    override def properties(): util.Map[String, String] = inner.properties()
    // Spark's analyzer reads constraints() off the STAGED table when
    // planting write-time CHECK validation — the Table default is
    // empty, which would let a constraint-carrying staged write land
    // unvalidated data into a table that then reports the constraint
    // as enforced.
    override def constraints(): Array[
        org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      inner.constraints()
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      // Spark writes to a staged-replace table as if it were new and
      // empty — the replace semantics live here: force the TRUNCATE
      // shape so the deferred publish retires every pre-RTAS file.
      val truncating = inner.newWriteBuilder(info) match {
        case t: org.apache.spark.sql.connector.write.SupportsTruncate =>
          t.truncate()
        case other => throw new IllegalStateException(
          "staged REPLACE needs a truncate-capable write builder (a " +
            s"non-truncating $other would silently APPEND the rebuild " +
            "onto the old rows)")
      }
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate
          with org.apache.spark.sql.connector.write.SupportsOverwrite {
        // Spark plans the RTAS write as a truncate / overwrite(true) on
        // the staged table; the inner builder is ALREADY the truncate
        // shape, so both are identity here — anything narrower than a
        // full overwrite is not a table replacement.
        override def truncate(): WriteBuilder = this
        override def overwrite(filters: Array[
            org.apache.spark.sql.sources.Filter]): WriteBuilder = {
          require(filters.isEmpty || filters.forall(
            _ == org.apache.spark.sql.sources.AlwaysTrue),
            s"staged REPLACE overwrites the whole table; got filter " +
              filters.mkString(", "))
          this
        }
        override def build(): Write = {
          val w = truncating.build()
          new Write {
            override def toBatch: BatchWrite = {
              val bw = w.toBatch
              new BatchWrite {
                override def createBatchWriterFactory(p: PhysicalWriteInfo)
                    : org.apache.spark.sql.connector.write.DataWriterFactory =
                  bw.createBatchWriterFactory(p)
                override def useCommitCoordinator(): Boolean =
                  bw.useCommitCoordinator()
                override def commit(messages: Array[WriterCommitMessage])
                    : Unit = { pending = Some((bw, messages)) } // defer
                override def abort(messages: Array[WriterCommitMessage])
                    : Unit = bw.abort(messages)
              }
            }
          }
        }
      }
    }
    override def commitStagedChanges(): Unit = {
      pending match {
        case Some((bw, messages)) => bw.commit(messages)
        case None =>
          // Bare REPLACE TABLE: no write job ran — publish the
          // truncate generation itself (empty replacement).
          new ManifestBatchWrite(dir.toString, tblSchema,
            "rtas-" + java.util.UUID.randomUUID().toString.take(8),
            truncate = true,
            retain = props.get("retainhistory").exists(_.toBoolean),
            ManifestSink.DefaultMaxSegments, partCols, Set.empty[String])
            .commit(Array.empty)
      }
      GraftCatalog.overwriteMeta(dir, tblSchema, partCols, props)
    }
    override def abortStagedChanges(): Unit = {
      pending.foreach { case (bw, messages) => bw.abort(messages) }
      pending = None
    }
  }

  // ----- ViewCatalog (Spark 4's V2 view API): `CREATE VIEW cat.v AS
  // SELECT ...` persists the DEFINITION (SQL text + resolution context
  // + inferred schema) as `_view.json` in the view's own directory —
  // the catalog object production lakehouses keep next to their
  // tables. Spark re-parses the stored SQL against the stored
  // catalog/namespace context at read, so a view over graft tables
  // sees their CURRENT state (time travel, DVs, equality deletes all
  // compose for free — the view is late-bound, never a data copy).
  // Materialized views build ON TOP of this: an MV is a view whose
  // finalize query reads a maintained partial-aggregate TABLE (see
  // [[MaterializedViews]]).

  private def viewMarker(dir: Path): Path = dir.resolve("_view.json")

  private final case class GraftView(viewName: String, sql: String,
      cat: String, ns: Array[String], viewSchema: StructType,
      queryCols: Array[String], aliases: Array[String],
      comments: Array[String], props: Map[String, String])
      extends org.apache.spark.sql.connector.catalog.View {
    override def name(): String = viewName
    override def query(): String = sql
    override def currentCatalog(): String = cat
    override def currentNamespace(): Array[String] = ns
    override def schema(): StructType = viewSchema
    override def queryColumnNames(): Array[String] = queryCols
    override def columnAliases(): Array[String] = aliases
    override def columnComments(): Array[String] = comments
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String]()
      props.foreach { case (k, v) => m.put(k, v) }
      m
    }
  }

  /** `_view.json` layout: 7 lines — schema JSON, a flat object
    * (sql/catalog/name), then four string arrays (namespace, query
    * column names, aliases, comments), then a flat properties object.
    * Same NDJSON-escape discipline as `_table.json`. */
  private def writeView(dir: Path, v: GraftView, overwrite: Boolean,
      ident: Identifier): Unit = {
    def arr(xs: Array[String]): String =
      xs.map(x => "\"" + NdjsonCodec.escape(if (x == null) "" else x) + "\"")
        .mkString("[", ",", "]")
    val obj = Seq("sql" -> v.sql, "catalog" -> v.cat, "name" -> v.viewName)
      .map { case (k, x) =>
        "\"" + k + "\":\"" + NdjsonCodec.escape(x) + "\"" }.mkString("{", ",", "}")
    val propsLine = v.props.toSeq.sortBy(_._1).map { case (k, x) =>
      "\"" + NdjsonCodec.escape(k) + "\":\"" + NdjsonCodec.escape(x) + "\""
    }.mkString("{", ",", "}")
    val json = Seq(v.viewSchema.json, obj, arr(v.ns), arr(v.queryCols),
      arr(v.aliases), arr(v.comments), propsLine).mkString("", "\n", "\n")
    Files.createDirectories(dir)
    def write(tmp: Path): Unit =
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    if (overwrite) Publish.replace(viewMarker(dir))(write)
    else if (!Publish.create(viewMarker(dir))(write))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
  }

  private def readView(dir: Path, ident: Identifier): GraftView = {
    if (!Files.exists(viewMarker(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        ident)
    val lines = new String(Files.readAllBytes(viewMarker(dir)),
      StandardCharsets.UTF_8).split("\n")
    val schema = DataType.fromJson(lines(0)).asInstanceOf[StructType]
    val obj = NdjsonCodec.parseLine(lines(1)).collect {
      case (k, NdjsonCodec.JsonStr(v)) => k -> v
    }.toMap
    def arr(i: Int): Array[String] =
      if (lines.length <= i) Array.empty
      else GraftCatalog.parseStringArray(lines(i)).toArray
    val props =
      if (lines.length < 7) Map.empty[String, String]
      else NdjsonCodec.parseLine(lines(6)).collect {
        case (k, NdjsonCodec.JsonStr(v)) => k -> v
      }.toMap
    GraftView(obj.getOrElse("name", ident.name()), obj("sql"),
      obj.getOrElse("catalog", name()), arr(2), schema, arr(3), arr(4),
      arr(5), props)
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val nsDir = namespace.foldLeft(base)(_.resolve(_))
    if (!Files.isDirectory(nsDir)) return Array.empty
    val ls = Files.list(nsDir)
    try ls.iterator().asScalaSeq
      .filter(p => Files.exists(viewMarker(p)))
      .map(p => Identifier.of(namespace.toArray, p.getFileName.toString))
      .toArray
    finally ls.close()
  }

  override def viewExists(ident: Identifier): Boolean =
    Files.exists(viewMarker(dirOf(ident)))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View =
    readView(dirOf(ident), ident)

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    val props = {
      val b = collection.mutable.Map[String, String]()
      val it = info.properties().entrySet().iterator()
      while (it.hasNext) { val e = it.next(); b(e.getKey) = e.getValue }
      b.toMap
    }
    val v = GraftView(ident.name(), info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(), props)
    // A view must never claim a TABLE's directory: the substitution
    // rule would shadow the table, and a later DROP VIEW sweep would
    // take the table's data files and history with it. Refuse up front.
    if (tableExists(ident))
      throw new TableAlreadyExistsException(
        Seq(name()) ++ ident.namespace().toSeq :+ ident.name())
    writeView(dirOf(ident), v, overwrite = false, ident)
    v
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    val dir = dirOf(ident)
    var v = readView(dir, ident)
    changes.foreach {
      case set: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty =>
        v = v.copy(props = v.props + (set.property() -> set.value()))
      case rm: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty =>
        v = v.copy(props = v.props - rm.property())
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER VIEW change: $other")
    }
    writeView(dir, v, overwrite = true, ident)
    v
  }

  /** DROP VIEW deletes the view's METADATA, never a data directory: the
    * marker file goes, and the directory itself only if nothing else
    * lives in it. A directory that also holds `_table.json` (a view
    * marker landed in a table dir — pre-guard debris, or a manual
    * write) keeps every byte except the marker; recursively sweeping it
    * would silently destroy the table. */
  override def dropView(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!Files.exists(viewMarker(dir))) return false
    Files.deleteIfExists(viewMarker(dir))
    // Remove the now-empty shell dir; any remaining content (a table's
    // files, user debris) means the delete must stop at the marker.
    try Files.deleteIfExists(dir)
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    true
  }

  /** Rename moves the view MARKER only — never the directory, whose
    * other contents (a coexisting table's data) must stay put. The
    * target may not be an existing table or view. */
  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    if (!Files.exists(viewMarker(from)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        oldIdent)
    val to = dirOf(newIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(
        Seq(name()) ++ newIdent.namespace().toSeq :+ newIdent.name())
    if (Files.exists(viewMarker(to)))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    Files.createDirectories(to)
    Files.move(viewMarker(from), viewMarker(to), StandardCopyOption.ATOMIC_MOVE)
    try Files.deleteIfExists(from)
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  // ----- ProcedureCatalog: table maintenance through SQL `CALL`
  // (`CALL cat.system.compact(...)` — see [[GraftProcedures]]).

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    def undefined = throw new RuntimeException(
      s"procedure ${ident.namespace().mkString(".")}.${ident.name()} " +
        "is not defined; available: " +
        GraftProcedures.all(base).keys.map(n => s"system.$n").mkString(", "))
    if (!ident.namespace().sameElements(Array("system"))) undefined
    GraftProcedures.all(base).getOrElse(ident.name(), undefined)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.all(base).keys
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ----- SupportsNamespaces: a namespace IS a directory under base,
  // marked by `_namespace.json` (its properties, one JSON line) so an
  // explicitly created empty schema is distinguishable from filesystem
  // debris. Directories holding tables count as namespaces too —
  // tables created with an implicit namespace predate the marker.

  private def nsDir(namespace: Array[String]): Path = {
    namespace.foreach(part =>
      require(!part.contains("/") && !part.contains("\\") && part != ".." &&
        part.nonEmpty, s"invalid namespace part: '$part'"))
    namespace.foldLeft(base)(_.resolve(_))
  }
  private def nsMarker(dir: Path): Path = dir.resolve("_namespace.json")
  private def isNamespaceDir(p: Path): Boolean =
    Files.isDirectory(p) && !Files.exists(metaPath(p)) &&
      !Files.exists(p.resolve("_view.json"))

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespaceDir(nsDir(namespace))

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (!isNamespaceDir(dir) && namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        Seq(name()) ++ namespace.toSeq)
    if (!Files.isDirectory(dir)) return Array.empty
    val ls = Files.list(dir)
    try ls.iterator().asScalaSeq
      .filter(p => isNamespaceDir(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => namespace :+ p.getFileName.toString).toArray
    finally ls.close()
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    val dir = nsDir(namespace)
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        Seq(name()) ++ namespace.toSeq)
    val out = new util.HashMap[String, String]()
    if (Files.exists(nsMarker(dir)))
      NdjsonCodec.parseLine(new String(Files.readAllBytes(nsMarker(dir)),
        StandardCharsets.UTF_8).trim).foreach {
        case (k, NdjsonCodec.JsonStr(v)) => out.put(k, v)
        case _ => ()
      }
    out
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (namespaceExists(namespace) && Files.exists(nsMarker(dir)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException((Seq(name()) ++ namespace.toSeq).toArray)
    Files.createDirectories(dir)
    writeNsMarker(dir, {
      val b = collection.mutable.Map[String, String]()
      val it = metadata.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); b(e.getKey) = e.getValue }
      (b -- Seq("owner", "location", "comment")).toMap ++
        (if (b.contains("comment")) Map("comment" -> b("comment")) else Map())
    })
  }

  private def writeNsMarker(dir: Path, props: Map[String, String]): Unit = {
    val json = props.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + NdjsonCodec.escape(k) + "\":\"" + NdjsonCodec.escape(v) + "\""
    }.mkString("{", ",", "}") + "\n"
    Publish.replace(nsMarker(dir))(
      Files.write(_, json.getBytes(StandardCharsets.UTF_8)))
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit = {
    import org.apache.spark.sql.connector.catalog.NamespaceChange
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        Seq(name()) ++ namespace.toSeq)
    val dir = nsDir(namespace)
    var props = {
      val m = loadNamespaceMetadata(namespace)
      val b = collection.mutable.Map[String, String]()
      val it = m.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); b(e.getKey) = e.getValue }
      b
    }
    changes.foreach {
      case set: NamespaceChange.SetProperty =>
        props(set.property()) = set.value()
      case rm: NamespaceChange.RemoveProperty => props -= rm.property()
      case other => throw new UnsupportedOperationException(
        s"namespace change $other")
    }
    writeNsMarker(dir, props.toMap)
  }

  /** Non-cascade DROP refuses a namespace still holding tables or
    * child namespaces; cascade removes the whole subtree (every table
    * in it included — the blast radius the keyword opts into). */
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = nsDir(namespace)
    val hasChildren = {
      val ls = Files.list(dir)
      try ls.iterator().asScalaSeq.exists(p =>
        Files.isDirectory(p) || Files.exists(metaPath(p)))
      finally ls.close()
    }
    if (hasChildren && !cascade)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty — " +
          "use DROP NAMESPACE ... CASCADE")
    deleteTree(dir)
    true
  }

  private implicit final class JIterSeq[A](private val it: java.util.Iterator[A]) {
    def asScalaSeq: Seq[A] = {
      val b = collection.mutable.ArrayBuffer[A]()
      while (it.hasNext) b += it.next()
      b.toSeq
    }
  }
}

/** Static table-metadata readers — shared by the catalog instance and
  * catalog-less front doors (the `table_changes` TVF resolves a
  * `cat.ns.table` string straight to its directory without holding a
  * catalog object). */
private[sources] object GraftCatalog {
  private[sources] def metaPath(dir: Path): Path = dir.resolve("_table.json")

  /** Liveness marker inside a hidden staged-CTAS directory: touched on
    * a daemon timer while the staging driver is alive, consulted by
    * [[GraftCatalog.sweepStaleStaged]] instead of the dir's own idle
    * top-level mtime. Deleted before the commit rename so it never
    * lands inside a published table. */
  private[sources] val HeartbeatFile = "_staging_heartbeat"

  /** Touch `dir/_staging_heartbeat` every `ttlMs/8` (min 1 s) on a
    * daemon scheduler until the returned handle is closed. Close waits
    * briefly for an in-flight touch so the caller can delete the file
    * without a racing re-create. */
  private[sources] def startHeartbeat(dir: Path, ttlMs: Long)
      : AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "graft-staging-heartbeat")
             t.setDaemon(true); t })
    val period = math.max(ttlMs / 8, 1000L)
    val hb = dir.resolve(HeartbeatFile)
    exec.scheduleAtFixedRate(() => scala.util.Try {
      if (Files.exists(dir)) {
        if (!Files.exists(hb)) Files.createFile(hb)
        Files.setLastModifiedTime(hb,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
      }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => {
      exec.shutdownNow()
      exec.awaitTermination(2, java.util.concurrent.TimeUnit.SECONDS)
      scala.util.Try(Files.deleteIfExists(hb))
    }
  }

  // ----- ANSI TABLE CONSTRAINTS (Spark 4's connector constraint API):
  // each constraint persists as ONE table property
  // `graft.constraint.<lowercased name>` holding a flat JSON object of
  // string fields — the same escape/parse machinery every other
  // property rides, so no meta-format change and free round-tripping.
  // Enforced CHECK constraints are applied by Spark's own analyzer on
  // every v2 write (a violating row fails the job before any file
  // stages); PRIMARY KEY / UNIQUE / FOREIGN KEY are informational
  // (RELY), the planner-facing metadata a lakehouse catalog carries.
  // Multi-part (nested) column references join their path segments
  // with U+0000 and reference lists join with U+0001 — both escape
  // cleanly and neither occurs in a legal column name.
  private[sources] val ConstraintPropPrefix = "graft.constraint."

  /** Spark's own field-metadata key for GENERATED ALWAYS AS expression
    * SQL — using Spark's constant keeps DESCRIBE / SHOW CREATE TABLE
    * rendering (which read the same key) in sync. */
  private[sources] val GenerationExpressionKey: String =
    org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY

  private[sources] def renderConstraint(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : (String, String) = {
    import org.apache.spark.sql.connector.catalog.constraints._
    def refs(rs: Array[org.apache.spark.sql.connector.expressions.NamedReference])
        : String = rs.map(_.fieldNames().mkString("\u0000")).mkString("\u0001")
    val base = Seq("name" -> c.name(), "enforced" -> c.enforced().toString,
      "rely" -> c.rely().toString, "status" -> c.validationStatus().name())
    val fields: Seq[(String, String)] = c match {
      case ch: Check =>
        base ++ Seq("kind" -> "check", "sql" -> ch.predicateSql())
      case pk: PrimaryKey =>
        base ++ Seq("kind" -> "pk", "cols" -> refs(pk.columns()))
      case u: Unique =>
        base ++ Seq("kind" -> "unique", "cols" -> refs(u.columns()))
      case fk: ForeignKey =>
        base ++ Seq("kind" -> "fk", "cols" -> refs(fk.columns()),
          "reftable" -> (fk.referencedTable().namespace().toSeq :+
            fk.referencedTable().name()).mkString("\u0000"),
          "refcols" -> refs(fk.referencedColumns()))
      case other => throw new IllegalArgumentException(
        s"unsupported constraint kind: $other")
    }
    (ConstraintPropPrefix + c.name().toLowerCase,
      fields.map { case (k, v) =>
        "\"" + NdjsonCodec.escape(k) + "\":\"" + NdjsonCodec.escape(v) + "\""
      }.mkString("{", ",", "}"))
  }

  /** Property keys of the ENFORCED CHECK constraints in a property
    * map — the planning-time snapshot a write's commit compares against
    * the table's CURRENT meta to detect a constraint added after the
    * write was analyzed (whose validation Spark therefore never
    * planted). Keys, not SQL: renaming/re-adding under the same name
    * with a different predicate also re-validates existing rows, so the
    * key identity is the right granularity. */
  private[sources] def enforcedCheckKeys(
      props: Map[String, String]): Set[String] =
    props.collect {
      case (k, v) if k.startsWith(ConstraintPropPrefix) &&
          parseConstraint(v).exists {
            case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
              c.enforced()
            case _ => false
          } => k
    }.toSet

  private[sources] def parseConstraint(json: String)
      : Option[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    // LOUD on corruption: a swallowed parse failure would silently
    // disable an ENFORCED check (violating rows land with no signal).
    val m = try NdjsonCodec.parseLine(json) catch {
      case e: Exception => throw new IllegalStateException(
        s"unparseable persisted constraint: $json", e)
    }
    def s(k: String): Option[String] =
      m.get(k).collect { case NdjsonCodec.JsonStr(v) => v }
    require(s("kind").isDefined && s("name").isDefined,
      s"persisted constraint missing kind/name: $json")
    def refs(v: String): Array[NamedReference] =
      v.split('\u0001').filter(_.nonEmpty)
        .map(p => Expressions.column(p.split('\u0000')
          .map(seg => "`" + seg.replace("`", "``") + "`").mkString(".")))
    for (kind <- s("kind"); nm <- s("name")) yield {
      val enforced = s("enforced").exists(_.toBoolean)
      val rely = s("rely").exists(_.toBoolean)
      val status = Constraint.ValidationStatus.valueOf(
        s("status").getOrElse("UNVALIDATED"))
      kind match {
        case "check" =>
          Constraint.check(nm).predicateSql(s("sql").getOrElse("true"))
            .enforced(enforced).rely(rely).validationStatus(status).build()
        case "pk" =>
          Constraint.primaryKey(nm, refs(s("cols").getOrElse("")))
            .enforced(enforced).rely(rely).validationStatus(status).build()
        case "unique" =>
          Constraint.unique(nm, refs(s("cols").getOrElse("")))
            .enforced(enforced).rely(rely).validationStatus(status).build()
        case "fk" =>
          val parts = s("reftable").getOrElse("").split('\u0000')
          Constraint.foreignKey(nm, refs(s("cols").getOrElse("")),
            Identifier.of(parts.init, parts.last),
            refs(s("refcols").getOrElse("")))
            .enforced(enforced).rely(rely).validationStatus(status).build()
        case other => throw new IllegalArgumentException(
          s"unknown persisted constraint kind '$other'")
      }
    }
  }

  /** CREATE-time validation of generation expressions (Delta's rule):
    * parseable, references only existing NON-generated columns, no
    * self-reference — an invalid expression caught here is a clear
    * DDL error; caught at insert it is a bricked table, and a
    * generated-to-generated reference would silently compute from the
    * analyzer's null fill. Needs the active session's parser; DDL
    * always has one (library-internal construction without a session
    * skips). */
  private[sources] def validateGeneration(schema: StructType,
      gens: Map[String, String]): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      val resolver = s.sessionState.conf.resolver
      gens.foreach { case (col, sql) =>
        val parsed = try s.sessionState.sqlParser.parseExpression(sql)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"generation expression of '$col' does not parse: $sql", e)
        }
        parsed.foreach {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            val head = u.nameParts.head
            require(schema.fields.exists(f => resolver(f.name, head)),
              s"generation expression of '$col' references unknown " +
                s"column '$head'")
            require(!gens.keys.exists(g => resolver(g, head)),
              s"generation expression of '$col' cannot reference " +
                s"generated column '$head' (it would compute from the " +
                "null fill, not the computed value)")
          case _ => ()
        }
      }
    }

  /** Refuse dropping/renaming a column any stored CHECK predicate,
    * key-constraint column list, or generation expression references —
    * the stored SQL does not follow schema evolution, so the reference
    * would brick every later INSERT. Detection parses with the active
    * session's parser; without one (or on a parse failure) a
    * conservative identifier-token scan refuses on any match. */
  /** CREATE-time identity validation ([[GraftIdentity]] checks the
    * spec itself — type, ALWAYS-only, start/step sign): the stored
    * value is a PLACEHOLDER until commit, so nothing that consumes
    * stored values at write time may involve the column — partition
    * routing, sort stamps, bloom indexing, enforced CHECK predicates
    * (which would vacuously pass on the pre-allocation null), and
    * generation expressions (which would compute from null).
    * Informational PK/UNIQUE/FK are fine — they assert, not read. */
  private[sources] def validateIdentity(schema: StructType,
      partCols: Seq[String], props: Map[String, String]): Unit =
    GraftIdentity.of(schema).foreach { spec =>
      require(!PartSpec.parseAll(partCols).exists(_.col == spec.col),
        s"IDENTITY column '${spec.col}' cannot be a partition/bucket " +
          "column (its stored values are placeholders until commit)")
      Seq("sortby", "bloomcolumns").foreach { k =>
        require(!props.get(k).exists(_.split(",").map(_.trim)
            .exists(_.equalsIgnoreCase(spec.col))),
          s"IDENTITY column '${spec.col}' cannot appear in '$k'")
      }
      schema.fields.filterNot(_.name == spec.col).foreach { f =>
        if (f.metadata.contains(GenerationExpressionKey)) {
          val sql = f.metadata.getString(GenerationExpressionKey)
          require(!sql.split("[^A-Za-z0-9_]+")
              .exists(_.equalsIgnoreCase(spec.col)),
            s"generated column '${f.name}' cannot reference IDENTITY " +
              s"column '${spec.col}' (values are allocated at commit, " +
              "after generation expressions compute)")
        }
      }
      props.filter(_._1.startsWith(ConstraintPropPrefix)).foreach {
        case (_, v) => parseConstraint(v).foreach {
          case ch: org.apache.spark.sql.connector.catalog.constraints.Check
              if ch.enforced() =>
            require(!ch.predicateSql().split("[^A-Za-z0-9_]+")
                .exists(_.equalsIgnoreCase(spec.col)),
              s"enforced CHECK '${ch.name()}' cannot reference IDENTITY " +
                s"column '${spec.col}' — at write time the column is " +
                "still unallocated, so the predicate would vacuously " +
                "pass on null and never validate real values")
          case _ => ()
        }
      }
    }

  private[sources] def requireUnreferenced(schema: StructType,
      props: Map[String, String], col: String, verb: String): Unit = {
    def tokenScan(sql: String): Boolean =
      sql.split("[^A-Za-z0-9_]+").exists(_.equalsIgnoreCase(col))
    def referencedBy(sql: String): Boolean =
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(s) =>
          val resolver = s.sessionState.conf.resolver
          scala.util.Try(s.sessionState.sqlParser.parseExpression(sql))
            .toOption match {
            case Some(parsed) =>
              var hit = false
              parsed.foreach {
                case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                    if resolver(u.nameParts.head, col) => hit = true
                case _ => ()
              }
              hit
            case None => tokenScan(sql)
          }
        case None => tokenScan(sql)
      }
    // Other columns' generation expressions (dropping/renaming the
    // generated column ITSELF is allowed — the feature goes with it).
    schema.fields.filterNot(_.name == col).foreach { f =>
      if (f.metadata.contains(GenerationExpressionKey)) {
        val sql = f.metadata.getString(GenerationExpressionKey)
        require(!referencedBy(sql),
          s"cannot $verb column '$col': generated column '${f.name}' " +
            s"computes from it ($sql) — drop the generated column first")
      }
    }
    props.filter(_._1.startsWith(ConstraintPropPrefix)).foreach { case (_, v) =>
      parseConstraint(v).foreach { c =>
        import org.apache.spark.sql.connector.catalog.constraints._
        val hit = c match {
          case ch: Check => referencedBy(ch.predicateSql())
          case pk: PrimaryKey =>
            pk.columns().exists(_.fieldNames().head.equalsIgnoreCase(col))
          case u: Unique =>
            u.columns().exists(_.fieldNames().head.equalsIgnoreCase(col))
          case fk: ForeignKey =>
            fk.columns().exists(_.fieldNames().head.equalsIgnoreCase(col))
          case _ => false
        }
        require(!hit, s"cannot $verb column '$col': constraint " +
          s"'${c.name()}' references it — drop the constraint first")
      }
    }
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's `ALTER TABLE ... ADD/REPLACE
    * PARTITION FIELD` idea, surfaced as `CALL system.*_partition_field`
    * procedures): swap the table's partition spec METADATA in place —
    * zero data movement. Files written before the evolution keep the
    * tuple values they recorded under the OLD spec; pruning consults
    * each file's OWN recorded spec keys ([[ManifestScan]] bucket
    * pruning parses `part.*` keys per file), so both eras keep pruning
    * under the spec they were written with, and only writes AFTER the
    * evolution route and record under the new spec. The alternative —
    * rewriting a 100 TB table because its partitioning needs a bucket
    * dimension — is exactly what spec evolution exists to avoid.
    * Returns the previous spec. */
  private[sources] def replacePartitionSpec(dir: Path,
      partCols: Seq[String]): Seq[String] = {
    val (schema, old, props) = readMeta(dir)
    PartSpec.parseAll(partCols).foreach { sp =>
      val fld = schema.fields.find(_.name == sp.col)
      require(fld.isDefined,
        s"partition column '${sp.col}' is not in the table schema")
      sp match {
        case _: IdentityPart =>
          require(NdjsonCodec.statOrdering(fld.get.dataType).isDefined,
            s"partition column '${sp.col}' (${fld.get.dataType}) is not " +
              "orderable — partition pruning needs min/max bounds")
        case _: BucketPart => () // any supported type hashes
      }
    }
    overwriteMeta(dir, schema, partCols, props)
    old
  }

  /** Merge properties into a table's metadata (atomic swap) — the
    * programmatic twin of `ALTER TABLE SET TBLPROPERTIES`, used by
    * materialized-view refresh bookkeeping. */
  private[sources] def setTableProperties(dir: Path,
      kv: Map[String, String]): Unit = {
    val (schema, partCols, props) = readMeta(dir)
    overwriteMeta(dir, schema, partCols, props ++ kv)
  }

  /** `_table.json` as three JSON lines: the schema (StructType.json —
    * Spark's own stable wire format), the partition column list, and
    * the table properties (TBLPROPERTIES — `retainHistory` etc. become
    * write-option defaults). */
  private[sources] def metaBytes(schema: StructType, partCols: Seq[String],
      props: Map[String, String]): Array[Byte] =
    (schema.json + "\n" +
      partCols.map(c => "\"" + NdjsonCodec.escape(c) + "\"")
        .mkString("[", ",", "]") + "\n" +
      props.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + NdjsonCodec.escape(k) + "\":\"" + NdjsonCodec.escape(v) + "\""
      }.mkString("{", ",", "}") + "\n").getBytes(StandardCharsets.UTF_8)

  /** ALTER: atomic swap of an existing table's `_table.json`. */
  private[sources] def overwriteMeta(dir: Path, schema: StructType,
      partCols: Seq[String], props: Map[String, String]): Unit = {
    Publish.replace(metaPath(dir))(
      Files.write(_, metaBytes(schema, partCols, props)))
    invalidateMeta(dir)
  }

  private val metaCache =
    new StatCache[(StructType, Seq[String], Map[String, String])]()

  private[sources] def invalidateMeta(dir: Path): Unit =
    metaCache.invalidate(metaPath(dir))

  private[sources] def readMeta(dir: Path)
      : (StructType, Seq[String], Map[String, String]) =
    metaCache.get(metaPath(dir)) {
      val lines = new String(Files.readAllBytes(metaPath(dir)),
        StandardCharsets.UTF_8).split("\n")
      val schema = DataType.fromJson(lines(0)).asInstanceOf[StructType]
      val props =
        if (lines.length < 3) Map.empty[String, String]
        else NdjsonCodec.parseLine(lines(2)).collect {
          case (k, NdjsonCodec.JsonStr(v)) => k -> v
        }.toMap
      (schema, parseStringArray(lines(1)), props)
    }

  /** [[readMeta]] of a catalog table; None for a path table (no
    * `_table.json`). Any other failure propagates: a default guessed
    * for an unreadable file would change what a writer emits. */
  private[sources] def metaIfPresent(dir: String)
      : Option[(StructType, Seq[String], Map[String, String])] = {
    val d = Paths.get(dir)
    if (Files.exists(metaPath(d))) Some(readMeta(d)) else None
  }

  private[sources] def parseStringArray(txt: String): Seq[String] = {
    val out = collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < txt.length) {
      if (txt.charAt(i) == '"') {
        val sb = new java.lang.StringBuilder
        i += 1
        var esc = false
        while (i < txt.length && (esc || txt.charAt(i) != '"')) {
          if (esc) { sb.append(txt.charAt(i)); esc = false }
          else if (txt.charAt(i) == '\\') esc = true
          else sb.append(txt.charAt(i))
          i += 1
        }
        out += sb.toString
      }
      i += 1
    }
    out.toSeq
  }
}
