package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetToSparkSchemaConverter, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** COLUMNAR PAYLOAD LANE (round 15): data files inside the SAME
  * manifest/committer machinery may be PARQUET instead of NDJSON —
  * `TBLPROPERTIES ('filekind'='parquet')`. The kind is self-describing
  * (the file extension), so the manifest format is unchanged and kinds
  * can coexist in one table (e.g. a table converted mid-life).
  *
  * What composes identically: two-phase commit, time travel / tags /
  * branches / WAP, snapshot retention, row-level DML (copy-on-write
  * rewrites write parquet again through the same write path), DELETION
  * VECTORS — keyed on ROW ORDINAL for this kind (the NDJSON kind keys
  * on byte offsets; both are "the `_pos` the scan served", so the DML
  * machinery is kind-agnostic) — equality deletes (key text rendered by
  * the same codec spelling both kinds share), schema evolution (absent
  * columns read EXISTS_DEFAULT/null, widened columns upcast at read,
  * renamed columns resolve through the same alias candidates against
  * the file's own footer), the change feed, and per-file min/max/null
  * stats feeding file skipping and the CBO.
  *
  * Round-15 second half closed most of the first cut's stand-downs:
  * NESTED-LEAF stats and BLOOM/KMV sidecars are written for parquet
  * entries through the same shared [[LeafRef]] walk (leaf predicates
  * prune files, leaf min/max folds from metadata, leaf point lookups
  * skip on the sidecar, the KMV NDV feeds the CBO), and partitioned /
  * streaming epoch writes route to parquet children. Byte-range SPLITS fan one
  * parquet file across tasks (parquet's midpoint rule assigns each
  * row group to exactly the split holding its midpoint; each split
  * derives its ordinal BASE from the footer so `_pos`/DVs stay exact),
  * with an explicit `blockbytes` property sizing the row groups.
  * What still stands down (sound — absence of a claim only disables
  * an optimization): sub-file block-stat PRUNING and the sort stamp;
  * intra-file pruning is the vectorized parquet reader's own
  * row-group machinery. Compaction merges small DELETE-FREE parquet
  * entries by row-group append ([[compactGroups]] — no decode,
  * schema-homogeneous bins); DV'd or tombstoned entries carry over
  * untouched until a CoW rewrite clears them.
  *
  * Why this lane exists at 100 TB: NDJSON (+zstd, + the projection-
  * aware byte tokenizer) bounds the CPU of a narrow projection, but
  * scan I/O still reads full rows — a 2-of-40-column read over a wide
  * corpus pays the whole row width in bytes. Parquet's columnar layout
  * makes scan I/O track the projection (SCALE.md codecbench probe),
  * which is the difference that matters on a 1000-executor scan. */
private[sources] object GraftParquet {
  def isParquet(name: String): Boolean = name.endsWith(".parquet")

  /** A parquet file's Spark schema from its own footer (schema
    * inference for path-routed reads of parquet-kind directories). */
  def footerSchema(file: String): StructType = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(file).toUri),
      new Configuration()))
    try new ParquetToSparkSchemaConverter()
      .convert(in.getFooter.getFileMetaData.getSchema)
    finally in.close()
  }

  /** The table's EXPLICIT blockbytes property (None when unset — the
    * NDJSON default must not shrink parquet's 128 MB row groups). */
  def explicitBlockBytes(dir: String): Option[Long] =
    try {
      if (!Files.exists(Paths.get(dir, "_table.json"))) None
      else GraftCatalog.readMeta(Paths.get(dir))._3
        .get("blockbytes").map(_.trim.toLong).filter(_ > 0)
    } catch { case _: Exception => None }

  /** Writer-side Hadoop conf: Spark's own row→parquet WriteSupport,
    * non-legacy layout, micros timestamps (the exact physical types the
    * reader-side converter and DuckDB both expect). */
  def writeConf(schema: StructType): Configuration = {
    val c = new Configuration()
    ParquetWriteSupport.setSchema(schema, c)
    // The WriteSupport's schema converter reads these from the conf
    // with no defaults — every key must be present and boolean-parse.
    c.set("spark.sql.parquet.writeLegacyFormat", "false")
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    c.set("spark.sql.parquet.fieldId.write.enabled", "false")
    c.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    c.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    c.set("spark.sql.parquet.binaryAsString", "false")
    c.set("spark.sql.parquet.int96AsTimestamp", "false")
    c.set("spark.sql.caseSensitive", "false")
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    // Rebase modes intentionally NOT set here: Spark 4's
    // ParquetWriteSupport reads them from the thread-local SQLConf
    // (not this Hadoop conf), whose default is already CORRECTED —
    // Hadoop-conf keys for them would be dead config implying control
    // this path doesn't have.
    c
  }

  def codecNameOf(tableCodec: String): CompressionCodecName =
    tableCodec match {
      case "zstd" => CompressionCodecName.ZSTD
      case "gzip" => CompressionCodecName.GZIP
      case _ => CompressionCodecName.SNAPPY
    }

  /** Lossless upcast from the FILE's physical Spark type to the table's
    * (possibly widened) read type — the parquet twin of the text lane's
    * "token re-parses under the wider reader" rule. Identity when equal;
    * refuses anything else loudly (the write builder only ever widens
    * along these directions). */
  def promote(from: DataType, to: DataType): Any => Any =
    if (from == to) identity
    else (from, to) match {
      case (ByteType, ShortType) => v => v.asInstanceOf[Byte].toShort
      case (ByteType, IntegerType) => v => v.asInstanceOf[Byte].toInt
      case (ByteType, LongType) => v => v.asInstanceOf[Byte].toLong
      case (ShortType, IntegerType) => v => v.asInstanceOf[Short].toInt
      case (ShortType, LongType) => v => v.asInstanceOf[Short].toLong
      case (IntegerType, LongType) => v => v.asInstanceOf[Int].toLong
      case (ByteType | ShortType | IntegerType, DoubleType) =>
        v => v.asInstanceOf[Number].doubleValue
      case (ByteType | ShortType | IntegerType, FloatType) =>
        v => v.asInstanceOf[Number].floatValue
      case (LongType, DoubleType) => v => v.asInstanceOf[Long].toDouble
      case (FloatType, DoubleType) => v => v.asInstanceOf[Float].toDouble
      case (a: StructType, b: StructType) =>
        // By-NAME projection, not positional: the required struct is
        // routinely a PRUNED subset of the file's (nested schema
        // pruning hands the reader only the touched leaves), and
        // evolution can add nested fields the file predates (absent →
        // null). Each kept field promotes recursively.
        val plan: Array[(Int, Any => Any)] = b.fields.map { bf =>
          val j = a.fieldNames.indexOf(bf.name)
          if (j < 0) (-1, null)
          else (j, promote(a.fields(j).dataType, bf.dataType))
        }
        v => {
          val row = v.asInstanceOf[InternalRow]
          val out = new Array[Any](b.length)
          var i = 0
          while (i < b.length) {
            val (j, p) = plan(i)
            out(i) =
              if (j < 0 || row.isNullAt(j)) null
              else p(row.get(j, a.fields(j).dataType))
            i += 1
          }
          new GenericInternalRow(out)
        }
      case (a: ArrayType, b: ArrayType) =>
        val ep = promote(a.elementType, b.elementType)
        v => {
          val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val out = new Array[Any](arr.numElements())
          var i = 0
          while (i < out.length) {
            out(i) =
              if (arr.isNullAt(i)) null else ep(arr.get(i, a.elementType))
            i += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
        }
      case (a: MapType, b: MapType) =>
        val kp = promote(a.keyType, b.keyType)
        val vp = promote(a.valueType, b.valueType)
        v => {
          val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          val ks = m.keyArray(); val vs = m.valueArray()
          val ok = new Array[Any](m.numElements())
          val ov = new Array[Any](m.numElements())
          var i = 0
          while (i < ok.length) {
            ok(i) = kp(ks.get(i, a.keyType))
            ov(i) = if (vs.isNullAt(i)) null else vp(vs.get(i, a.valueType))
            i += 1
          }
          new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(ok),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(ov))
        }
      case other => throw new UnsupportedOperationException(
        s"parquet lane cannot promote $from to $to")
    }

  /** Bin-pack and MERGE small parquet entries by ROW-GROUP APPEND
    * (parquet-hadoop's `appendFile`): member row groups copy into the
    * output verbatim — no decode, no re-encode, I/O-bound like the
    * NDJSON raw concat. Bins are homogeneous in FOOTER SCHEMA
    * (mixed-vintage files keep their physical schemas); the first
    * member's key-value metadata (Spark's row-schema stamp) carries to
    * the output. Callers guarantee members are delete-free. Returns
    * (group, outputFileName) per merged bin; output files land in the
    * directory via atomic move, invisible until the manifest names
    * them (crash orphans GC later). */
  def compactGroups(dirPath: java.nio.file.Path, smalls: Seq[StagedFile],
      targetRows: Long, generation: Long, heartbeat: () => Unit)
      : Seq[(Seq[StagedFile], String)] = {
    if (smalls.size < 2) return Nil
    val conf = new Configuration()
    def inputFile(n: String): HadoopInputFile = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dirPath.resolve(n).toUri), conf)
    // Footer schema (and its key-value metadata) per member.
    val footers = smalls.map { e =>
      val r = ParquetFileReader.open(inputFile(e.name))
      try e.name -> r.getFooter.getFileMetaData
      finally r.close()
    }.toMap
    val bySchema = smalls.groupBy(e => footers(e.name).getSchema.toString)
    val bins = collection.mutable.ArrayBuffer[
      (Seq[StagedFile], org.apache.parquet.hadoop.metadata.FileMetaData)]()
    bySchema.toSeq.sortBy(_._1).foreach { case (_, group) =>
      // First-fit over name-sorted members — the SAME bin-packing
      // shape as the NDJSON path (determinism over optimality). The
      // earlier strictly-sequential variant abandoned a pairable
      // leading singleton at every bin boundary (a(60), e(70), f(30)
      // at target 100 left `a` a small file forever).
      val open = collection.mutable.ArrayBuffer[
        collection.mutable.ArrayBuffer[StagedFile]]()
      group.sortBy(_.name).foreach { e =>
        open.find(b => b.map(_.rows).sum + e.rows <= targetRows) match {
          case Some(b) => b += e
          case None => open += collection.mutable.ArrayBuffer(e)
        }
      }
      open.filter(_.size >= 2).foreach(b =>
        bins += ((b.toSeq, footers(b.head.name))))
    }
    bins.toSeq.zipWithIndex.map { case ((group, meta), k) =>
      heartbeat()
      val name = f"compact-g$generation%06d-pq$k%04d.parquet"
      Publish.replace(dirPath.resolve(name)) { tmp =>
        val w = new ParquetFileWriter(
          HadoopOutputFile.fromPath(
            new org.apache.hadoop.fs.Path(tmp.toUri), conf),
          meta.getSchema, ParquetFileWriter.Mode.OVERWRITE,
          ParquetWriter.DEFAULT_BLOCK_SIZE,
          ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
        w.start()
        group.foreach(e => w.appendFile(inputFile(e.name)))
        w.end(meta.getKeyValueMetaData)
      }
      group -> name
    }
  }

  /** The Catalyst value of `dt` as the [[NdjsonCodec.JsonVal]] the
    * NDJSON parse of the SAME value would produce — what makes
    * equality-delete key text identical across both file kinds. */
  def toJsonVal(dt: DataType): Any => NdjsonCodec.JsonVal = dt match {
    case StringType => v => NdjsonCodec.JsonStr(v.toString)
    case DateType => v => NdjsonCodec.JsonStr(
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
    case TimestampType => v => NdjsonCodec.JsonStr(
      java.time.Instant.EPOCH.plus(v.asInstanceOf[Long],
        java.time.temporal.ChronoUnit.MICROS).toString)
    case BinaryType => v => NdjsonCodec.JsonStr(
      java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    // Composite key columns: the NDJSON parse of '{'/'['-prefixed
    // values yields JsonRaw, so the parquet side must too — a JsonTok
    // here would render as a "t:" key segment against the NDJSON
    // side's "r:" and every composite-keyed equality delete would
    // silently match nothing in parquet files.
    case ct @ (_: StructType | _: ArrayType | _: MapType) =>
      val r = NdjsonCodec.renderer(ct)
      v => NdjsonCodec.JsonRaw(r(v))
    case other =>
      val r = NdjsonCodec.renderer(other)
      v => NdjsonCodec.JsonTok(r(v))
  }
}

/** Concrete parquet-hadoop writer builder over Spark's InternalRow
  * WriteSupport (the builder subclass the parquet API requires). */
private[sources] final class RowParquetWriterBuilder(
    out: HadoopOutputFile)
    extends ParquetWriter.Builder[InternalRow, RowParquetWriterBuilder](out) {
  override def self(): RowParquetWriterBuilder = this
  override def getWriteSupport(conf: Configuration)
      : WriteSupport[InternalRow] = new ParquetWriteSupport
}

/** Executor-side PARQUET writer for the manifest format: same staging /
  * attempt-uniqueness / commit-message contract as [[NdjsonDataWriter]];
  * rows stream through Spark's own parquet WriteSupport while the SAME
  * top-level min/max/NaN/null-count tracking feeds the manifest entry
  * (so file skipping, metadata aggregates, and the CBO see parquet
  * files exactly like NDJSON ones). */
private[sources] class ParquetDataWriter(path: String, queryId: String,
    schema: StructType, partitionId: Int, taskId: Long,
    epochId: Option[Long] = None, suffix: String = "",
    bloomCols: Seq[String] = Nil,
    identity: Option[GraftIdentity.Spec] = None)
    extends DataWriter[InternalRow] {
  // IDENTITY minting — the NDJSON twin's semantics ([[GraftIdentity]],
  // [[NdjsonDataWriter]]): null in the identity column stores the next
  // negative local placeholder, non-null values carry through (must be
  // non-negative). The parquet lane patches the row via a mutable copy
  // for minted rows only (UnsafeRows are immutable); placeholders stay
  // out of stats — carried bounds accumulate separately and the commit
  // merges the exact minted range.
  private val idIdx: Int =
    identity.map(sp => schema.fieldIndex(sp.col)).getOrElse(-1)
  private var mintedCount = 0L
  private var idMin = Long.MaxValue
  private var idMax = Long.MinValue
  private var idCarried = false

  private def patched(record: InternalRow, stored: Long): InternalRow = {
    val arr = new Array[Any](schema.fields.length)
    var i = 0
    while (i < schema.fields.length) {
      arr(i) =
        if (i == idIdx) stored
        else if (record.isNullAt(i)) null
        else record.get(i, schema.fields(i).dataType)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
  }
  // Same naming contract as the NDJSON writer: batch names are
  // attempt-unique via taskId; streaming names are epoch-deterministic
  // when PUBLISHED (epoch replays replace their own files), so the
  // writer stages under an attempt-unique name and claims the
  // deterministic one at task commit.
  private val name = epochId match {
    case Some(e) => f"part-e$e%05d-$partitionId%05d$suffix.parquet"
    case None => f"part-$partitionId%05d-$taskId$suffix.parquet"
  }
  private val staging = Paths.get(path, s".staging-$queryId")
  private val stagedName =
    if (epochId.isDefined) s"$name.a$taskId" else name
  private val file = staging.resolve(stagedName)

  private val writer: ParquetWriter[InternalRow] = {
    val conf = GraftParquet.writeConf(schema)
    val b = new RowParquetWriterBuilder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
      .withConf(conf)
      .withCompressionCodec(
        GraftParquet.codecNameOf(ManifestSink.codecAt(path)))
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
    // An EXPLICIT blockbytes property sizes the parquet ROW GROUPS —
    // the kind's sub-file granularity, exactly as it sizes the NDJSON
    // kind's sealed blocks (byte-range splits fan row groups across
    // tasks; smaller groups = finer split granularity). Unset keeps
    // parquet's default (128 MB row groups).
    GraftParquet.explicitBlockBytes(path)
      .foreach(v => b.withRowGroupSize(math.max(v, 64L * 1024)))
    b.build()
  }

  // Top-level bounds/null tracking — the same semantics as the NDJSON
  // writer's (orderable types only, NaN flagged but never a bound,
  // string bounds truncated at render time).
  private val comparators: Array[Ordering[Any]] =
    schema.fields.map(f => NdjsonCodec.statOrdering(f.dataType).orNull)
  private val renderers: Array[Any => String] =
    schema.fields.map(f => NdjsonCodec.renderer(f.dataType))
  private val mins = new Array[Any](schema.fields.length)
  private val maxs = new Array[Any](schema.fields.length)
  private val nanSeen = new Array[Boolean](schema.fields.length)
  private val nullCounts = new Array[Long](schema.fields.length)
  private var rows = 0L
  // Nested-leaf bounds + bloom/KMV targets: the SAME shared walk the
  // NDJSON writer uses (round-15 second half) — parquet entries prune
  // on nested predicates and skip on point lookups like NDJSON ones.
  // File granularity only (this kind records no sub-file blocks).
  private val leafCols: Array[LeafRef] = LeafRef.refsOf(schema)
  private val leafCmp: Array[Ordering[Any]] =
    leafCols.map(l => NdjsonCodec.statOrdering(l.leafType).orNull)
  private val leafRender: Array[Any => String] =
    leafCols.map(l => NdjsonCodec.renderer(l.leafType))
  private val leafMins = new Array[Any](leafCols.length)
  private val leafMaxs = new Array[Any](leafCols.length)
  private val leafNan = new Array[Boolean](leafCols.length)
  private val bloomTargets: Array[(String, DataType, Either[Int, LeafRef])] =
    LeafRef.bloomTargetsOf(schema, leafCols, bloomCols)
  private val bloomBufs: Array[HashBuf] = bloomTargets.map(_ => new HashBuf)

  override def write(record0: InternalRow): Unit = {
    // Identity first: minted rows are PATCHED before anything else
    // sees them (the parquet writer stores the placeholder; stats and
    // null counts must treat it as the non-null carried branch does).
    val record =
      if (idIdx < 0) record0
      else if (record0.isNullAt(idIdx)) {
        val ph = GraftIdentity.encode(mintedCount); mintedCount += 1
        patched(record0, ph)
      } else {
        val v = record0.getLong(idIdx)
        require(v >= 0,
          s"identity column '${schema.fields(idIdx).name}' received a " +
            s"negative value $v — explicit values are not assignable and " +
            "carried-through rows are always non-negative")
        idCarried = true
        if (v < idMin) idMin = v
        if (v > idMax) idMax = v
        record0
      }
    var i = 0
    while (i < schema.fields.length) {
      if (i == idIdx) () // placeholder/carried: tracked above, not here
      else if (record.isNullAt(i)) nullCounts(i) += 1
      else {
        val dt = schema.fields(i).dataType
        val v = record.get(i, dt)
        if (NdjsonCodec.isNaN(v)) nanSeen(i) = true
        else {
          val cmp = comparators(i)
          if (cmp != null) {
            def owned: Any = v match {
              case s: UTF8String => s.clone() // reused buffer — see NDJSON twin
              case b: Array[Byte] => b.clone()
              case other => other
            }
            if (mins(i) == null || cmp.lt(v, mins(i))) mins(i) = owned
            if (maxs(i) == null || cmp.gt(v, maxs(i))) maxs(i) = owned
          }
        }
      }
      i += 1
    }
    var lc = 0
    while (lc < leafCols.length) {
      val v = LeafRef.leafValue(leafCols(lc), record)
      if (v != null) {
        if (NdjsonCodec.isNaN(v)) leafNan(lc) = true
        else if (leafCmp(lc) != null) {
          def owned: Any = v match {
            case s: UTF8String => s.clone()
            case other => other
          }
          if (leafMins(lc) == null || leafCmp(lc).lt(v, leafMins(lc)))
            leafMins(lc) = owned
          if (leafMaxs(lc) == null || leafCmp(lc).gt(v, leafMaxs(lc)))
            leafMaxs(lc) = owned
        }
      }
      lc += 1
    }
    var b = 0
    while (b < bloomTargets.length) {
      val (_, dt, tgt) = bloomTargets(b)
      val v = tgt match {
        case Left(i) =>
          if (record.isNullAt(i)) null else record.get(i, dt)
        case Right(l) => LeafRef.leafValue(l, record)
      }
      if (v != null) bloomBufs(b).add(BloomIndex.hashPair(dt, v))
      b += 1
    }
    writer.write(record)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    val finalStaged = if (epochId.isDefined) {
      // Claim the deterministic epoch name (see the NDJSON twin): task
      // commit is the point Spark picked this attempt; a zombie's
      // staged file lives under ITS attempt-unique name.
      val dst = staging.resolve(name)
      Publish.move(file, dst)
      dst
    } else file
    def statTokens(nm: String, dt: DataType, render: Any => String,
        mn: Any, mx: Any, nan: Boolean): Option[ColStat] =
      if (mn == null) None
      else dt match {
        case StringType =>
          val lo = NdjsonCodec.truncLower(mn.asInstanceOf[UTF8String].toString)
          NdjsonCodec.truncUpper(mx.asInstanceOf[UTF8String].toString)
            .map(hi => ColStat(nm, "\"" + NdjsonCodec.escape(lo) + "\"",
              "\"" + NdjsonCodec.escape(hi) + "\""))
        case _ => Some(ColStat(nm, render(mn), render(mx), hasNan = nan))
      }
    val stats = schema.fields.indices.flatMap(i =>
      statTokens(schema.fields(i).name, schema.fields(i).dataType,
        renderers(i), mins(i), maxs(i), nanSeen(i))) ++
      leafCols.indices.flatMap(lc =>
        statTokens(leafCols(lc).path, leafCols(lc).leafType, leafRender(lc),
          leafMins(lc), leafMaxs(lc), leafNan(lc)))
    val (bloomNames, kmvSketches) = ManifestSink.publishBlooms(
      staging, name, bloomTargets.map(_._1), bloomBufs)
    val idStats =
      if (idIdx >= 0 && idCarried)
        Seq(ColStat(schema.fields(idIdx).name, idMin.toString,
          idMax.toString))
      else Nil
    StagedFile(name, rows, stats.toSeq ++ idStats, Files.size(finalStaged),
      schema.fields.indices.map(i =>
        schema.fields(i).name -> nullCounts(i)).toMap,
      bloomCols = bloomNames,
      kmv = kmvSketches,
      minted = mintedCount)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    Files.deleteIfExists(file)
  }

  override def close(): Unit = ()
}

/** Executor-side reader for one committed PARQUET file: Spark's
  * vectorized parquet reader underneath, the manifest lane's row
  * contract on top — `_pos` is the ROW ORDINAL (the kind's deletion-
  * vector domain), plan constants and EXISTS_DEFAULTs serve exactly as
  * in the NDJSON reader, renamed columns resolve through the alias
  * candidates against the file's own footer, and widened columns
  * upcast per element. Projection reaches the parquet column level:
  * only the required + equality-key columns are requested from the
  * vectorized reader. */
private[sources] class ParquetPartitionReader(file: String,
    required: StructType,
    constants: Map[String, String] = Map.empty,
    dv: DvSpec = DvSpec.Empty, servePos: Boolean = false,
    eq: Seq[EqRef] = Nil, eqEmit: Seq[EqRef] = Nil,
    aliases: Map[String, Seq[String]] = Map.empty,
    // Byte range of this split ([0, Long.MaxValue) = the whole file):
    // parquet's midpoint rule assigns each row group to exactly the
    // one range containing its midpoint, and the ordinal base below
    // keeps `_pos`/DVs exact under splitting.
    start: Long = 0L, end: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {
  private val dvDir: String = Paths.get(file).getParent.toString
  private val eqFilters: Seq[(Seq[String], java.util.HashSet[String])] =
    eq.map(r => r.cols -> ManifestSink.eqKeySet(dvDir, r.file, r.cols, aliases))
  private val eqEmitFilters: Seq[(Seq[String], java.util.HashSet[String])] =
    eqEmit.map(r =>
      r.cols -> ManifestSink.eqKeySet(dvDir, r.file, r.cols, aliases))
  private var eqSkipped = 0L
  private var dvSkipped = 0L
  private def offsetsOf(n: String): Array[Long] =
    ManifestSink.readDvOffsets(dvDir, n)
  private val skipOffsets: Array[Long] =
    dv.skip.filter(_ => dv.emitOnly.isEmpty).map(offsetsOf).orNull
  private val onlyOffsets: Array[Long] = dv.emitOnly.map { n =>
    val now = offsetsOf(n)
    dv.emitExcept match {
      case None => now
      case Some(prev) =>
        val old = offsetsOf(prev)
        now.filter(o => java.util.Arrays.binarySearch(old, o) < 0)
    }
  }.orNull
  private def dvKeep(ordinal: Long): Boolean =
    if (onlyOffsets != null)
      java.util.Arrays.binarySearch(onlyOffsets, ordinal) >= 0
    else if (skipOffsets != null &&
        java.util.Arrays.binarySearch(skipOffsets, ordinal) >= 0) {
      dvSkipped += 1
      false
    } else true

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TaskMetric("dvRowsSkipped", dvSkipped),
      TaskMetric("eqRowsSkipped", eqSkipped))

  // ---- footer: physical schema + this range's rows/ordinal base ---
  private val ranged = !(start == 0L && end == Long.MaxValue)
  private val (fileStruct: StructType, rangeRows: Long, ordinalBase: Long) = {
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(
        Paths.get(file).toUri), new Configuration()))
    try {
      val md = in.getFooter.getFileMetaData
      val conv = new ParquetToSparkSchemaConverter()
      val st = conv.convert(md.getSchema)
      if (!ranged) (st, in.getRecordCount, 0L)
      else {
        // The SAME midpoint rule the parquet range filter applies:
        // a row group belongs to the range holding its midpoint.
        var base = 0L
        var rows = 0L
        in.getFooter.getBlocks.asScala.foreach { b =>
          val mid = b.getStartingPos + b.getCompressedSize / 2
          if (mid < start) base += b.getRowCount
          else if (mid < end) rows += b.getRowCount
        }
        (st, rows, base)
      }
    } finally in.close()
  }
  private val filePresent: Set[String] = fileStruct.fieldNames.toSet

  private val names: Array[String] = required.fields.map(_.name)
  private val consts: Array[Any] = required.fields.map(f =>
    constants.get(f.name).map(UTF8String.fromString).orNull)
  private val posIdx: Int =
    if (servePos) required.fieldNames.indexOf(ManifestSink.PosColumn) else -1
  private val existsDefaults: Array[Any] =
    try org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .existenceDefaultValues(required)
    catch { case _: Exception => new Array[Any](required.fields.length) }

  /** FILE spelling for each projected column (current name first, then
    * rename-history candidates), null when the file predates it. */
  private def spellingOf(c: String): String =
    (c +: aliases.getOrElse(c, Nil)).find(filePresent.contains).orNull

  // Parquet read projection: projected payload columns + equality-key
  // columns, deduplicated, in file-footer order (the vectorized
  // reader's batch follows the requested order; keeping a stable
  // order makes the index map below trivial).
  private val readCols: Array[String] = {
    val want = collection.mutable.LinkedHashSet[String]()
    var i = 0
    while (i < names.length) {
      if (i != posIdx && consts(i) == null) {
        val s = spellingOf(names(i))
        if (s != null) want += s
      }
      i += 1
    }
    (eq ++ eqEmit).foreach(_.cols.foreach { c =>
      // Dotted keys read their HEAD struct (the leaf extracts from it).
      val dot = c.indexOf('.')
      val s = spellingOf(if (dot > 0) c.substring(0, dot) else c)
      if (s != null) want += s
    })
    want.toArray
  }
  private val readIdx: Map[String, Int] = readCols.zipWithIndex.toMap
  private val readTypes: Array[DataType] =
    readCols.map(c => fileStruct(c).dataType)

  // Value promotion per projected column (file physical type → table
  // read type). Equality keys render under the FILE's own type (see
  // eqCols below) — the NDJSON lane compares raw file tokens, so
  // file-type rendering is what keeps the two kinds' key text
  // consistent; text-CHANGING widens of key columns are excluded at
  // the source (equalityDelete refuses float/double identifiers,
  // Iceberg's identifier-field rule, and integral widens render
  // identically).
  private val colIdx: Array[Int] = names.map { n =>
    val s = spellingOf(n)
    if (s == null) -1 else readIdx(s)
  }
  private val colPromote: Array[Any => Any] = names.indices.map { i =>
    if (colIdx(i) < 0) identity[Any] _
    else GraftParquet.promote(readTypes(colIdx(i)),
      required.fields(i).dataType)
  }.toArray

  /** One equality key column's extraction plan: `idx` into the read
    * projection (-1 = absent from this file → null key segment), then
    * `steps` of (field ordinal, struct size) for a dotted LEAF path
    * ending at `leafIdx`/`leafType` (empty steps + leafIdx -1 = the
    * top-level value itself). */
  private case class EqCol(idx: Int, steps: Array[(Int, Int)],
      leafIdx: Int, leafType: DataType, toJson: Any => NdjsonCodec.JsonVal)
  private def eqCols(cols: Seq[String]): Seq[(String, EqCol)] =
    cols.map { c =>
      val dot = c.indexOf('.')
      if (dot < 0) {
        val s = spellingOf(c)
        if (s == null) c -> EqCol(-1, Array.empty, -1, NullType, null)
        else {
          val fi = readIdx(s)
          // Render under the FILE's own type: tombstone key text was
          // rendered from the live table rows at delete time, and both
          // kinds' writers render the same value to the same token.
          c -> EqCol(fi, Array.empty, -1, readTypes(fi),
            GraftParquet.toJsonVal(readTypes(fi)))
        }
      } else {
        // Dotted LEAF key: resolve the head through the rename
        // candidates, then walk the file's own struct shape.
        val hs = spellingOf(c.substring(0, dot))
        val segs = c.split('.').drop(1)
        if (hs == null) c -> EqCol(-1, Array.empty, -1, NullType, null)
        else try {
          val fi = readIdx(hs)
          // (ordinal into the current struct, size of the struct AT
          // that ordinal) per intermediate segment; the last segment
          // is the leaf.
          var walkT: StructType = readTypes(fi).asInstanceOf[StructType]
          val walk = collection.mutable.ArrayBuffer[(Int, Int)]()
          segs.dropRight(1).foreach { seg =>
            val j = walkT.fieldIndex(seg)
            val inner = walkT.fields(j).dataType.asInstanceOf[StructType]
            walk += (j -> inner.size)
            walkT = inner
          }
          val li = walkT.fieldIndex(segs.last)
          c -> EqCol(fi, walk.toArray, li, walkT.fields(li).dataType,
            GraftParquet.toJsonVal(walkT.fields(li).dataType))
        } catch {
          // Path absent / non-struct in THIS file's vintage: null key.
          case _: Exception => c -> EqCol(-1, Array.empty, -1, NullType, null)
        }
      }
    }
  private val eqColMap: Map[String, EqCol] =
    (eqFilters ++ eqEmitFilters).flatMap(f => eqCols(f._1)).toMap

  private def eqKeep(row: InternalRow): Boolean = {
    if (eqFilters.isEmpty && eqEmitFilters.isEmpty) return true
    val m = collection.mutable.HashMap[String, NdjsonCodec.JsonVal]()
    eqColMap.foreach { case (c, ec) =>
      if (ec.idx >= 0 && !row.isNullAt(ec.idx)) {
        if (ec.leafIdx < 0)
          m(c) = ec.toJson(row.get(ec.idx, readTypes(ec.idx)))
        else {
          // Walk to the leaf; a null anywhere on the path = null key.
          var cur: InternalRow = row.getStruct(ec.idx,
            readTypes(ec.idx).asInstanceOf[StructType].size)
          var k = 0
          while (k < ec.steps.length && cur != null) {
            val (si, ssize) = ec.steps(k)
            cur = if (cur.isNullAt(si)) null else cur.getStruct(si, ssize)
            k += 1
          }
          if (cur != null && !cur.isNullAt(ec.leafIdx))
            m(c) = ec.toJson(cur.get(ec.leafIdx, ec.leafType))
        }
      }
    }
    val dead = eqFilters.nonEmpty && eqFilters.exists { case (cols, keys) =>
      keys.contains(ManifestSink.eqKeyOf(m, cols))
    }
    if (dead) { eqSkipped += 1; false }
    else eqEmitFilters.isEmpty || eqEmitFilters.exists { case (cols, keys) =>
      keys.contains(ManifestSink.eqKeyOf(m, cols))
    }
  }

  // ---- vectorized reader (or the zero-column metadata path) --------
  private val vectorized: VectorizedParquetRecordReader =
    if (readCols.isEmpty) null
    else if (!ranged) {
      val r = new VectorizedParquetRecordReader(false, 4096)
      r.initialize(file, readCols.toList.asJava)
      r
    } else {
      // RANGED split: the Hadoop FileSplit route — the reader's own
      // range filter selects this split's row groups by the midpoint
      // rule (matching the ordinal base above). The conf carries the
      // requested schema in the FILE's own types; absent-column/
      // widening/rename handling stays in build() exactly as for the
      // whole-file route.
      val conf = new Configuration()
      conf.set("parquet.read.support.class",
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
      val reqStruct = StructType(readCols.map(c =>
        StructField(c, fileStruct(c).dataType)))
      conf.set(org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, reqStruct.json)
      conf.set("spark.sql.parquet.binaryAsString", "false")
      conf.set("spark.sql.parquet.int96AsTimestamp", "false")
      conf.set("spark.sql.caseSensitive", "false")
      conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
      val split = new org.apache.hadoop.mapred.FileSplit(
        new org.apache.hadoop.fs.Path(Paths.get(file).toUri),
        start, end - start, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      val r = new VectorizedParquetRecordReader(false, 4096)
      r.initialize(split, ctx)
      r
    }
  private var zeroColsLeft: Long = if (readCols.isEmpty) rangeRows else 0L

  private var ordinal = ordinalBase - 1L
  private var current: InternalRow = _

  private def build(row: InternalRow): InternalRow = {
    val vals = new Array[Any](names.length)
    var i = 0
    while (i < names.length) {
      vals(i) =
        if (i == posIdx) ordinal
        else if (consts(i) != null) consts(i)
        else {
          val fi = colIdx(i)
          if (fi < 0) existsDefaults(i)
          else if (row.isNullAt(fi)) null
          else colPromote(i)(row.get(fi, readTypes(fi)))
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def next(): Boolean = {
    current = null
    while (current == null) {
      if (vectorized == null) {
        if (zeroColsLeft == 0) return false
        zeroColsLeft -= 1
        ordinal += 1
        if (dvKeep(ordinal) && eqKeep(null) )
          current = build(null)
      } else {
        if (!vectorized.nextKeyValue()) return false
        ordinal += 1
        val row = vectorized.getCurrentValue.asInstanceOf[InternalRow]
        if (dvKeep(ordinal) && eqKeep(row))
          current = build(row)
      }
    }
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (vectorized != null) vectorized.close()
}
