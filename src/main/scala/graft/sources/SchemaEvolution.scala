package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types._

/** Column RENAME and type WIDENING for manifest tables — the schema
  * evolution a 100 TB corpus needs, done WITHOUT rewriting a byte of
  * data.
  *
  * The format's payloads are name-keyed NDJSON, so a naive rename
  * would silently null out every pre-rename file's column (the
  * Iceberg field-id problem). Instead of field ids, the table keeps a
  * RENAME LOG in its `_table.json` properties: an ordered list of
  * `(old, new)` steps. Everything name-keyed then resolves through it
  * at READ time:
  *
  *  - Manifest entries (stat bounds, null counts, partition tuples,
  *    sort stamps, bloom-column lists) are NORMALIZED to current names
  *    the moment they are parsed ([[normalizeEntry]]), so every proof
  *    in the planner — bounds pruning, metadata-only DELETE,
  *    aggregate pushdown, SPJ tuples, sorted-scan claims — works on
  *    current names unchanged, including against pre-rename manifests
  *    reached by time travel or change-feed windows.
  *  - Data files keep their vintage payload keys (that is the whole
  *    point — no rewrite); the reader looks each current column up
  *    under its ALIASES ([[aliases]]): the current name first, then
  *    every historic name that resolves to it. A file written under
  *    one vintage carries exactly one of the candidate keys, so the
  *    lookup is unambiguous; compaction CONCATENATES raw lines, so a
  *    merged file may mix vintages — per-line candidate lookup handles
  *    that too.
  *  - Equality-delete key files and bloom sidecars are immutable
  *    per-commit artifacts keyed by their own vintage; their lookups
  *    resolve through the same alias sets.
  *
  * Names used by any rename step are RETIRED: re-adding one as a new
  * column would let old files' payload values leak into it, so
  * `AddColumn`/rename targets must be fresh.
  *
  * TYPE WIDENING (int-family upcasts, float→double) needs no name
  * machinery at all: payloads and stat bounds are TEXT tokens re-parsed
  * by the CURRENT read schema's converter, so `"3"` written through an
  * INT column reads back as a LONG after the widen, and the bloom
  * index already hashes all integrals width-normalized (8-byte LE).
  * The one width-SENSITIVE consumer is bucket hashing (Murmur3 over
  * the Catalyst value) — widening a bucket-source column is refused.
  */
private[sources] object SchemaEvolution {

  /** Table property holding the rename log: a flat JSON string array
    * of alternating old/new names, in rename order —
    * `["old1","new1","old2","new2"]`. */
  val PropKey = "renamelog"

  def parseLog(props: Map[String, String]): Seq[(String, String)] =
    props.get(PropKey) match {
      case None => Nil
      case Some(txt) =>
        GraftCatalog.parseStringArray(txt).grouped(2).collect {
          case Seq(o, n) => (o, n)
        }.toSeq
    }

  def renderLog(log: Seq[(String, String)]): String =
    log.flatMap { case (o, n) => Seq(o, n) }
      .map(s => "\"" + NdjsonCodec.escape(s) + "\"")
      .mkString("[", ",", "]")

  /** Every name any rename step ever used — retired from reuse (a new
    * column under a retired name would inherit old files' payloads). */
  def logNames(log: Seq[(String, String)]): Set[String] =
    log.iterator.flatMap { case (o, n) => Iterator(o, n) }.toSet

  /** vintage → current name, for names whose final identity differs
    * (chains collapse: a→b, b→c yields a→c and b→c). */
  def currentNames(log: Seq[(String, String)]): Map[String, String] = {
    var m = Map.empty[String, String]
    log.foreach { case (o, n) =>
      m = m.map { case (k, v) => k -> (if (v == o) n else v) } + (o -> n)
    }
    m.filter { case (k, v) => k != v }
  }

  /** current name → historic payload-key candidates (itself excluded),
    * deterministic order. At most one candidate appears in any given
    * data line (retired names are never re-added), so order never
    * changes a result. */
  def aliases(cur: Map[String, String]): Map[String, Seq[String]] =
    cur.toSeq.groupBy(_._2).map { case (c, kvs) => c -> kvs.map(_._1).sorted }

  /** vintage → current of the table at `dir`; empty for path-only
    * tables (no `_table.json`) and tables that never renamed. */
  def currentNamesAt(dir: String): Map[String, String] =
    GraftCatalog.metaIfPresent(dir)
      .fold(Map.empty[String, String])(m => currentNames(parseLog(m._3)))

  def aliasesAt(dir: String): Map[String, Seq[String]] =
    aliases(currentNamesAt(dir))

  /** Lossless upcasts only: every value AND every recorded stat token
    * re-parses exactly under the wider type (payloads are text — the
    * token, not a binary width, is the source of truth). */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Rename the source column inside a persisted partition-spec string
    * (`"lang"`, `"bucket(8,doc_id)"`), preserving the transform. */
  def renameSpec(spec: String, cur: Map[String, String]): String =
    PartSpec.parse(spec) match {
      case IdentityPart(c) => cur.getOrElse(c, spec)
      case BucketPart(n, c) if cur.contains(c) => BucketPart(n, cur(c)).name
      case _ => spec
    }

  /** Rewrite an entry's name-keyed metadata to CURRENT names — the
    * plan-time normalization that makes every stats/partition/sort/
    * bloom proof rename-transparent. Identity-fast when the table
    * never renamed. */
  /** Current name of a stat column, dotted nested-leaf paths included:
    * renaming a top-level struct column renames the PREFIX of every
    * leaf stat recorded under it ("u.geo.lat" follows u → profile). */
  private def renameStatCol(c: String, cur: Map[String, String]): String =
    cur.getOrElse(c, {
      val dot = c.indexOf('.')
      if (dot < 0) c
      else cur.get(c.substring(0, dot)).fold(c)(_ + c.substring(dot))
    })

  def normalizeEntry(e: StagedFile, cur: Map[String, String]): StagedFile =
    if (cur.isEmpty) e
    else e.copy(
      stats = e.stats.map { s =>
        val n = renameStatCol(s.col, cur)
        if (n == s.col) s else s.copy(col = n)
      },
      nullCounts = e.nullCounts.map { case (k, v) => (cur.getOrElse(k, k), v) },
      partValues = e.partValues.map { case (k, v) => (renameSpec(k, cur), v) },
      sorted = e.sorted.map(c => cur.getOrElse(c, c)),
      // Dotted nested-leaf names (bloom/kmv/stat keys) follow a rename
      // of their TOP struct column via the prefix rule.
      bloomCols = e.bloomCols.map(renameStatCol(_, cur)),
      blocks = e.blocks.map(b => b.copy(stats = b.stats.map { s =>
        val n = renameStatCol(s.col, cur)
        if (n == s.col) s else s.copy(col = n)
      })),
      kmv = e.kmv.map { case (k, v) => (renameStatCol(k, cur), v) })

  def normalizeEqDelete(d: ManifestSink.EqDelete,
      cur: Map[String, String]): ManifestSink.EqDelete =
    if (cur.isEmpty) d else d.copy(cols = d.cols.map(c => cur.getOrElse(c, c)))

  // --------------------------------------------------------------------
  // WRITE-SIDE schema evolution (mergeSchema appends).
  //
  // A table with TBLPROPERTIES('mergeschema'='true') declares
  // `ACCEPT_ANY_SCHEMA`, which tells Spark's analyzer to SKIP its own
  // output-column resolution (`V2WriteCommand.outputResolved` short-
  // circuits on `skipSchemaResolution`) — so the connector must
  // re-validate everything the analyzer would have, and may then do
  // what the analyzer never could: accept a DataFrame that ADDS columns
  // (the table schema evolves in the same commit; pre-evolution files
  // read the new column as null — the a53 absent-key machinery) or
  // WIDENS a column (the a51 text-token re-parse argument).
  //
  // Resolution rules, in order:
  //  1. BY NAME when any query column names a table column (exact match
  //     first, unique case-insensitive second — resolved to the table's
  //     spelling). Unmatched QUERY columns are NEW columns (added
  //     nullable at commit; retired rename-log names refuse). Unmatched
  //     TABLE columns are simply absent from the written payloads and
  //     read back as null / EXISTS_DEFAULT — refused only when that
  //     would lie (non-nullable without a default, or a CURRENT default
  //     that differs from what absent keys read back).
  //  2. POSITIONAL when NO query column names any table column and the
  //     arities match — the `INSERT INTO t VALUES (...)` shape, whose
  //     synthesized col1/col2 attribute names reach the connector
  //     verbatim once the analyzer stands down. Fields are renamed to
  //     the table's columns in position order; positional writes never
  //     evolve the schema.
  //  3. Anything else refuses loudly with both shapes in the message.
  //
  // Type rule per matched column: the payload is TEXT, so the token the
  // QUERY's type renders must re-parse exactly under the TABLE's read
  // type ([[tokenCompatible]] — identity, integral upcasts, integral →
  // float/double, float → double). A query type WIDER than the table's
  // widens the table column at commit (mergeSchema only; bucket-source
  // columns refuse exactly like ALTER COLUMN TYPE). Everything else is
  // a loud error — ACCEPT_ANY_SCHEMA disables Spark's implicit casts,
  // and silently coercing here would hide real mistakes.
  // --------------------------------------------------------------------

  /** What a write resolved to: the schema the task writers use (QUERY
    * field order and types — rows arrive in query shape — under TABLE
    * column names), plus the evolution the commit must apply. */
  case class WriteResolution(writeSchema: StructType,
      newCols: Seq[StructField], widens: Map[String, DataType])

  /** Token-level read compatibility: a value rendered by `from`'s
    * writer re-parses EXACTLY under `to`'s reader. Strictly the lossless
    * directions — integral tokens under a wider integral or a float/
    * double reader, float tokens under double. (long → double admits
    * the usual 2^53 SQL-widening caveat; it is the cast Spark itself
    * inserts for the same write.) */
  def tokenCompatible(from: DataType, to: DataType): Boolean =
    from == to || canWiden(from, to) || ((from, to) match {
      case (ByteType | ShortType | IntegerType | LongType,
            FloatType | DoubleType) => true
      // Structs compare field-wise, IGNORING nullability/metadata (a
      // query's struct literal routinely differs from the table's in
      // nested nullability) — names must match, leaf types must be
      // token-compatible in the same direction.
      case (a: StructType, b: StructType) =>
        a.length == b.length && a.fields.zip(b.fields).forall {
          case (x, y) => x.name == y.name &&
            tokenCompatible(x.dataType, y.dataType)
        }
      // Arrays/maps: element/key/value-wise in the same lossless
      // directions (the payload renders elements with the same token
      // rules as top-level scalars).
      case (a: ArrayType, b: ArrayType) =>
        tokenCompatible(a.elementType, b.elementType)
      case (a: MapType, b: MapType) =>
        tokenCompatible(a.keyType, b.keyType) &&
          tokenCompatible(a.valueType, b.valueType)
      case _ => false
    })

  def resolveWrite(query: StructType, table: StructType,
      retired: Set[String], mergeAllowed: Boolean, bucketSources: Set[String],
      tableName: String): WriteResolution = {
    // Empty table schema = first write to a path table: adopt the query
    // schema wholesale (there is no persisted schema to evolve).
    if (table.isEmpty || table == query)
      return WriteResolution(query, Nil, Map.empty)
    val byExact = table.fields.map(f => f.name -> f).toMap
    val byLower = table.fields.groupBy(_.name.toLowerCase)
    def target(n: String): Option[StructField] =
      byExact.get(n).orElse(byLower.get(n.toLowerCase) match {
        case Some(Array(f)) => Some(f)
        case _ => None
      })
    val anyMatch = query.fields.exists(f => target(f.name).isDefined)
    def typeErr(q: StructField, t: StructField): Nothing =
      throw new IllegalArgumentException(
        s"cannot write $tableName: column '${t.name}' is ${t.dataType.simpleString} " +
          s"but the query writes ${q.dataType.simpleString} — no lossless " +
          "text-token mapping exists; cast explicitly")
    if (!anyMatch && query.length == table.length) {
      // POSITIONAL (INSERT VALUES): table names, query types, no evolution.
      val widens = collection.mutable.LinkedHashMap[String, DataType]()
      val fields = query.fields.zip(table.fields).map { case (q, t) =>
        val qt = if (q.dataType == NullType) t.dataType else q.dataType
        if (!tokenCompatible(qt, t.dataType)) {
          if (mergeAllowed && canWiden(t.dataType, qt)) widens += t.name -> qt
          else typeErr(q.copy(dataType = qt), t)
        }
        q.copy(name = t.name, dataType = qt)
      }
      checkWidens(widens.toMap, bucketSources, tableName)
      return WriteResolution(StructType(fields), Nil, widens.toMap)
    }
    if (!anyMatch)
      throw new IllegalArgumentException(
        s"cannot write $tableName: no query column matches any table column " +
          s"and the arities differ (query ${query.length}: " +
          s"${query.fieldNames.mkString(", ")}; table ${table.length}: " +
          s"${table.fieldNames.mkString(", ")}) — alias the query's columns " +
          "to the table's names")
    // BY NAME.
    val widens = collection.mutable.LinkedHashMap[String, DataType]()
    val newCols = collection.mutable.ArrayBuffer[StructField]()
    val fields = query.fields.map { f =>
      target(f.name) match {
        case Some(t) =>
          val qt = if (f.dataType == NullType) t.dataType else f.dataType
          if (!tokenCompatible(qt, t.dataType)) {
            if (mergeAllowed && canWiden(t.dataType, qt)) widens += t.name -> qt
            else typeErr(f.copy(dataType = qt), t)
          }
          f.copy(name = t.name, dataType = qt)
        case None =>
          if (!mergeAllowed)
            throw new IllegalArgumentException(
              s"cannot write $tableName: query column '${f.name}' does not " +
                "exist in the table (set TBLPROPERTIES('mergeschema'='true') " +
                "to evolve the schema on write, or ALTER TABLE ADD COLUMN)")
          require(!retired.contains(f.name),
            s"cannot add column '${f.name}' to $tableName: the name was used " +
              "by an earlier RENAME and is retired (pre-rename files still " +
              "carry it); alias the query column to a fresh name")
          require(f.dataType != NullType,
            s"cannot add column '${f.name}' to $tableName as untyped NULL — " +
              "cast the literal to the intended type")
          require(NdjsonCodec.supported(f.dataType),
            s"cannot add column '${f.name}' to $tableName: unsupported type " +
              f.dataType.simpleString)
          // Added nullable regardless of the query's nullability: every
          // pre-evolution file reads it as null.
          newCols += StructField(f.name, f.dataType, nullable = true)
          f
      }
    }
    // Two query columns must not resolve to the SAME table column
    // ('A' exact-miss + case-insensitive hit alongside 'a'): both would
    // be renamed to the table spelling, the writer would emit duplicate
    // payload keys, and the reader's last-wins parse would silently
    // drop one value. Spark's analyzer rejects this shape; under
    // ACCEPT_ANY_SCHEMA this connector is the only validator.
    query.fields.map(_.name).zip(fields.map(_.name))
      .groupBy(_._2).foreach { case (resolved, pairs) =>
        require(pairs.length == 1,
          s"cannot write $tableName: query columns " +
            pairs.map(p => s"'${p._1}'").mkString(", ") +
            s" all resolve to table column '$resolved'")
      }
    // Table columns the query omits: absent payload keys read back as
    // null / EXISTS_DEFAULT — refuse when that contradicts the schema.
    val written = fields.map(_.name).toSet
    table.fields.filterNot(t => written.contains(t.name)).foreach { t =>
      val rd = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      val exists = if (t.metadata.contains(rd.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
        Some(t.metadata.getString(rd.EXISTS_DEFAULT_COLUMN_METADATA_KEY)) else None
      val current = if (t.metadata.contains(rd.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
        Some(t.metadata.getString(rd.CURRENT_DEFAULT_COLUMN_METADATA_KEY)) else None
      require(t.nullable || exists.isDefined,
        s"cannot write $tableName: non-nullable column '${t.name}' is " +
          "missing from the query and has no default")
      // An absent key reads EXISTS_DEFAULT (or null); if the column's
      // CURRENT default VALUE differs, omitting it would silently write
      // the wrong default into new rows. Compared as folded literals —
      // the two metadata keys render the same value through different
      // SQL ("2" vs "2L"); unparseable/unfoldable defaults refuse
      // conservatively.
      def folded(sqlOpt: Option[String]): Any = sqlOpt.map { s =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(s), t.dataType).eval(null)
      }.orNull
      val same = try folded(current) == folded(exists)
        catch { case _: Exception => false }
      require(current.isEmpty || same,
        s"cannot write $tableName: column '${t.name}' has a CURRENT " +
          s"default (${current.get}) that absent payload keys would not " +
          "read back — supply the column explicitly")
    }
    checkWidens(widens.toMap, bucketSources, tableName)
    WriteResolution(StructType(fields), newCols.toSeq, widens.toMap)
  }

  private def checkWidens(widens: Map[String, DataType],
      bucketSources: Set[String], tableName: String): Unit =
    widens.keys.find(bucketSources.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"cannot widen bucket-source column '$c' of $tableName on write: " +
          "bucket hashes are width-sensitive, pre-widen files would stop " +
          "matching their buckets — cast the query column down instead"))

  /** Apply a write's schema evolution to the table's catalog metadata,
    * called by the committer UNDER THE PUBLISH LOCK so the schema and
    * the data land at the same commit point. Idempotent and
    * re-validated against the CURRENT metadata: a concurrent commit may
    * have already added the same column (same name + compatible type =
    * skip; conflicting type = loud abort before any manifest swap).
    * Path tables (no `_table.json`) have no persisted schema — no-op.
    * Crash AFTER the meta swap but BEFORE the manifest publish leaves
    * only an extra nullable column every committed row reads as null —
    * additive evolution is harmless to interrupt. */
  def evolveMetaAtCommit(dir: Path, newCols: Seq[StructField],
      widens: Map[String, DataType]): Unit = {
    if (newCols.isEmpty && widens.isEmpty) return
    if (!Files.exists(dir.resolve("_table.json"))) return
    val (schema0, partCols, props) = GraftCatalog.readMeta(dir)
    var schema = schema0
    val retired = logNames(parseLog(props))
    var changed = false
    widens.foreach { case (c, to) =>
      schema.fields.find(_.name == c) match {
        case Some(f) if f.dataType == to => // already widened concurrently
        case Some(f) if canWiden(f.dataType, to) =>
          schema = StructType(schema.fields.map(x =>
            if (x.name == c) x.copy(dataType = to) else x))
          changed = true
        case Some(f) if tokenCompatible(to, f.dataType) => // already wider
        case Some(f) => throw new IllegalStateException(
          s"commit-time widen of '$c' to ${to.simpleString} conflicts with " +
            s"the table's current ${f.dataType.simpleString} (concurrent ALTER)")
        case None => throw new IllegalStateException(
          s"commit-time widen of '$c': column vanished (concurrent ALTER)")
      }
    }
    newCols.foreach { f =>
      schema.fields.find(_.name == f.name) match {
        case Some(ex) if tokenCompatible(f.dataType, ex.dataType) => // landed already
        case Some(ex) => throw new IllegalStateException(
          s"commit-time add of '${f.name}' ${f.dataType.simpleString} " +
            s"conflicts with a concurrently added ${ex.dataType.simpleString}")
        case None =>
          require(!retired.contains(f.name),
            s"cannot add column '${f.name}': retired by an earlier RENAME")
          schema = schema.add(f)
          changed = true
      }
    }
    if (changed) GraftCatalog.overwriteMeta(dir, schema, partCols, props)
  }
}
