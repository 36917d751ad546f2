package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.expressions.{CosineSimilarity, JaroWinkler, MinHashBandBuckets, MinHashSignature, ShingleHashes, SimHash64}

/** The engine's one Spark session extension (installed by
  * `spark.sql.extensions = graft.sources.GraftSparkExtensions`, which
  * [[graft.GraftSession]] sets). It injects:
  *
  *  - the custom SQL functions ([[GraftSparkExtensions.functions]]), so
  *    `SELECT cosine_similarity(a, b) ...` works next to the DataFrame
  *    API. None of the six names is a Spark built-in, so nothing is
  *    shadowed;
  *  - the `table_changes` TABLE-VALUED FUNCTION, the SQL front door to
  *    the batch change feed (Delta's `table_changes` spelling);
  *  - SQL views, generated columns and the MERGE guard (see below).
  *
  * {{{
  * SELECT * FROM table_changes('cat.db.tbl', 2)        -- (2, current]
  * SELECT * FROM table_changes('cat.db.tbl', 2, 5)     -- (2, 5]
  * SELECT * FROM table_changes('/warehouse/tbl', 0)    -- raw path
  * }}}
  *
  * The window is (startingVersion, endingVersion] — same semantics as
  * the `startingVersion`/`endingVersion` DataFrame read options the
  * TVF fronts (exclusive start: "changes SINCE the snapshot I hold").
  * Rows carry the table's columns plus `_change_type` =
  * 'insert' | 'delete', filled at plan time; deletion-vector deletes
  * emit only the per-window vector delta. The function resolves a
  * dotted name through the named catalog's `base` directory (no
  * catalog instance needed — the table directory is self-describing)
  * and a path argument through schema inference, then plans a regular
  * DSv2 relation, so pruning/pushdown behave exactly like the
  * DataFrame route. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSparkExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftSparkExtensions].getName,
        "table_changes"),
      (args: Seq[Expression]) => GraftSparkExtensions.tableChanges(args)))
    // SQL views over graft catalogs (see [[GraftViews]]): the parser
    // wrapper routes view DDL to the V2 ViewCatalog before the
    // analyzer's "catalog does not support views" rejection; the
    // resolution rule substitutes stored definitions on read.
    ext.injectParser((session, delegate) =>
      new GraftViewParser(session, delegate))
    ext.injectResolutionRule(session =>
      GraftViews.GraftViewSubstitution(session))
    // GENERATED ALWAYS AS columns: compute them on insert-shaped
    // writes to manifest tables (see [[GraftGeneratedColumns]]).
    ext.injectResolutionRule(session => GraftGeneratedColumns(session))
    // SQL MERGE on an ACCEPT_ANY_SCHEMA (mergeschema=true) table can
    // never resolve: Spark's ResolveReferences RETURNS the
    // MergeIntoTable untouched for skipSchemaResolution relations, so
    // the user gets a cryptic unresolved-column error that suggests
    // the very column they typed. Fail loudly with the actual cause
    // and the alternatives instead (round-17).
    ext.injectResolutionRule(_ => GraftMergeGuard)
  }
}

/** See the injection comment above: turns the impossible-to-diagnose
  * unresolved-merge failure on ACCEPT_ANY_SCHEMA manifest tables into
  * an actionable error at first sight of the command. */
object GraftMergeGuard
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MergeIntoTable}
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case m: MergeIntoTable if !m.resolved && {
            org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
              m.targetTable) match {
              case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
                r.table.isInstanceOf[ManifestTable] &&
                  r.table.capabilities().contains(
                    org.apache.spark.sql.connector.catalog.TableCapability
                      .ACCEPT_ANY_SCHEMA)
              case _ => false
            }
          } =>
        throw new UnsupportedOperationException(
          "SQL MERGE cannot target a mergeschema=true manifest table: " +
            "Spark skips merge resolution for ACCEPT_ANY_SCHEMA " +
            "relations, so the command can never analyze. Either unset " +
            "the property (ALTER TABLE ... UNSET TBLPROPERTIES " +
            "('mergeschema')) — MERGE WITH SCHEMA EVOLUTION covers " +
            "source-driven column adds without it — or use " +
            "ManifestOps.mergeInto")
    }
}

object GraftSparkExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) for every SQL-exposed custom expression. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "cosine_similarity(arrA, arrB)")
        CosineSimilarity(es.head, es(1))
      }),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[Expression]) => {
        require(es.length == 1, "simhash64(tokenHashArray)")
        SimHash64(es.head)
      }),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "shingle_hashes(str, k)")
        ShingleHashes(es.head, intArg(es(1), "k"))
      }),
    ("jaro_winkler",
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "jaro_winkler(strA, strB)")
        JaroWinkler(es.head, es(1))
      }),
    ("minhash_band_buckets",
      new ExpressionInfo(classOf[MinHashBandBuckets].getName, "minhash_band_buckets"),
      (es: Seq[Expression]) => {
        require(es.length == 3, "minhash_band_buckets(hashArray, bands, rowsPerBand)")
        MinHashBandBuckets(es.head, intArg(es(1), "bands"), intArg(es(2), "rowsPerBand"))
      }),
    ("minhash_signature",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "minhash_signature(hashArray, numHashes)")
        MinHashSignature(es.head, intArg(es(1), "numHashes"))
      }))

  private def evalLiteral(e: Expression, what: String): Any = {
    require(e.foldable,
      s"table_changes: $what must be a literal, got ${e.sql}")
    val v = e.eval()
    require(v != null, s"table_changes: $what must not be NULL")
    v
  }

  private def asLong(e: Expression, what: String): Long =
    evalLiteral(e, what) match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be an integer version, got $other")
    }

  private[sources] def tableChanges(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      "table_changes(table, startingVersion[, endingVersion]) takes 2 or 3 " +
        s"arguments, got ${args.size}")
    val target = evalLiteral(args(0), "table").toString
    val start = asLong(args(1), "startingVersion")
    val end = if (args.size == 3) Some(asLong(args(2), "endingVersion")) else None
    require(start >= 0 && end.forall(_ > start),
      s"table_changes: need 0 <= startingVersion < endingVersion, got " +
        s"($start, ${end.getOrElse("current")})")

    // Path mode: the directory IS a manifest table (schema inferred,
    // like a schemaless DataFrame read). Catalog mode: `cat.ns….table`
    // resolves through the catalog's configured base directory and the
    // persisted `_table.json` (exact schema, partition columns, props).
    val (dir, schema, partCols, props) =
      if (Files.exists(Paths.get(target).resolve(ManifestSink.ManifestName))) {
        val opts = new CaseInsensitiveStringMap(
          java.util.Collections.singletonMap("path", target))
        (target, new ManifestSink().inferSchema(opts),
          Nil: Seq[String], Map.empty[String, String])
      } else {
        val parts = target.split("\\.")
        require(parts.length >= 2,
          s"table_changes: '$target' is neither a manifest-table directory " +
            "nor a 'catalog.[ns.]table' name")
        val base = SparkSession.active.conf
          .getOption(s"spark.sql.catalog.${parts.head}.base")
          .getOrElse(throw new IllegalArgumentException(
            s"table_changes: catalog '${parts.head}' is not configured " +
              s"(spark.sql.catalog.${parts.head}.base is unset)"))
        val d = parts.tail.foldLeft(Paths.get(base))(_.resolve(_))
        require(Files.exists(GraftCatalog.metaPath(d)),
          s"table_changes: no table at $d")
        val (s, pc, pr) = GraftCatalog.readMeta(d)
        (d.toString, s, pc, pr)
      }
    val cdfSchema = StructType(schema.fields :+
      StructField(ManifestSink.ChangeTypeColumn, StringType, nullable = false))
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", dir)
    opts.put("readchangefeed", "true")
    opts.put("startingversion", start.toString)
    end.foreach(e => opts.put("endingversion", e.toString))
    DataSourceV2Relation.create(
      new ManifestTable(dir, cdfSchema, None, partCols, props),
      None, None, new CaseInsensitiveStringMap(opts), None)
  }
}
