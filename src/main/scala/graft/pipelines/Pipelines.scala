package graft.pipelines

import graft.GraftSession
import graft.operators.{RefPipeline, Relational}
import graft.queries.RefQueries
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import scala.jdk.CollectionConverters._

/** End-to-end pipeline runners mirroring the reference's three DAGs
  * (`/root/reference/dags/{users,posts,comments}_etl.py`) — the §2.D
  * orchestration surface as plain Scala sequencing: Spark's lazy DAG
  * already models the data dependencies, so "orchestration" reduces to
  * stage order + validation barriers.
  *
  * Stage mapping (users ETL, `users_etl.py:171-229`):
  *   sense → [[Ingest.fetchJson]] (driver-side, bounded retry = the
  *     HttpSensor + retry policy);
  *   stage → both staged layouts the reference writes, the NDJSON
  *     branch concurrently with the array-JSON one (`users_etl.py:229`);
  *     both finish before normalization reads the staged NDJSON, so a
  *     failed staging write leaves the warehouse untouched;
  *   transform → [[RefPipeline.normalizeUsers]] (pure plan, no action);
  *   load → [[Ingest.writeStar]] (parents concurrently, both committed
  *     before the child; atomic overwrite per table = DELETE-then-INSERT
  *     idempotence);
  *   validate → the PK (unique, NOT NULL) and FK checks the reference
  *     declares as constraints (`blog_post_definitions.sql:43-81`), run
  *     as ONE action per loaded table ([[Relational.integrity]]) over the
  *     table read back at the schema just written — the post-load
  *     barrier the Postgres constraints provided. The three users-ETL
  *     checks run concurrently.
  *
  * The posts and comments ETLs read their FK parent (a parquet footer
  * inference job) concurrently with the child's write. The query step,
  * [[warehouseQueries]], runs eagerly: its two table reads, then its
  * three queries, run concurrently, and it returns their results as
  * local DataFrames. Independent steps run through [[Ingest.concurrently]],
  * so every branch keeps the caller's job group and the first failure
  * surfaces after all finish.
  *
  * One rule sizes execution to the payload: an ETL call whose payload
  * is under [[InterpretedBelow]] runs with code generation off, both
  * whole-stage and expression codegen, and the caller's confs come
  * back when it returns or throws. The paper's traffic is three small
  * REST payloads per refresh, and a fresh session compiles each of its
  * generated classes again (Spark keys the class cache on the session's
  * class loader), so on such payloads compiling and JIT-ing the classes
  * costs more than running the rows through them interpreted.
  */
object Pipelines {

  /** Payload length, in chars, below which [[usersEtl]], [[postsEtl]] and
    * [[commentsEtl]] run interpreted: 4 MiB (the payloads are ASCII JSON,
    * so chars are bytes). On etl_refresh (1,000 users ≈ 0.36 MB, 10,000
    * posts ≈ 1.3 MB, 50,000 comments ≈ 10.4 MB; 4 cores, a fresh session
    * per cycle) a warm usersEtl compiles 43–52 classes, postsEtl 7–10 and
    * commentsEtl 1–2; interpreted, usersEtl compiles 8 and postsEtl none.
    *  - All three interpreted: usersEtl −25 %, postsEtl −15 %, but
    *    commentsEtl 0.1–0.2 s slower: at 50,000 rows its compiles pay.
    *  - `wholeStage=false` alone does not speed up usersEtl: most of its
    *    compiles are expression codegen, which `factoryMode=NO_CODEGEN`
    *    turns off.
    *  - Gated here, 10 run pairs: cycle wall 3.66 → 3.22 s. Traced,
    *    usersEtl 1.43 → 0.99 s, postsEtl 0.56 → 0.46 s, commentsEtl
    *    0.74 → 0.93 s (it now compiles classes postsEtl compiled for it).
    *    At 5,000 users only the users payload is under the gate: usersEtl
    *    1.28 → 0.97 s, the other calls flat. */
  private[graft] val InterpretedBelow: Int = 4 << 20

  /** `body` with code generation off when `payload` is under
    * [[InterpretedBelow]], as is otherwise. */
  private def sizedCodegen[T](spark: SparkSession, payload: String)(
      body: => T): T =
    if (payload.length >= InterpretedBelow) body
    else GraftSession.withConf(spark,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** Per-run summary — counts after load, with integrity results. */
  final case class LoadReport(table: String, rows: Long, fkOrphans: Long,
      pkDuplicates: Long, pkNulls: Long) {
    def ok: Boolean = fkOrphans == 0 && pkDuplicates == 0 && pkNulls == 0
  }

  /** Users ETL: payload JSON string → staged layouts → normalized star →
    * parquet warehouse → integrity reports. */
  def usersEtl(spark: SparkSession, payload: String, stagingDir: String,
      warehouseDir: String): Seq[LoadReport] = sizedCodegen(spark, payload) {
    val raw = Ingest.readJsonString(spark, payload)
    // Stage both layouts (the reference's parallel NDJSON branch).
    Ingest.concurrently(
      () => Ingest.writeNdjson(raw, s"$stagingDir/users_ndjson"),
      () => Ingest.writeJsonArray(raw, s"$stagingDir/users.json"))

    // Pin the staged read to the raw schema: no inference pass, no
    // run-to-run schema drift in the warehouse.
    val staged = Ingest.readNdjson(spark, s"$stagingDir/users_ndjson", Some(raw.schema))
    val (users, addresses, companies) = RefPipeline.normalizeUsers(staged)
    Ingest.writeStar(users, addresses, companies, warehouseDir)

    val u = readBack(users, s"$warehouseDir/users.parquet")
    val a = readBack(addresses, s"$warehouseDir/addresses.parquet")
    val c = readBack(companies, s"$warehouseDir/companies.parquet")
    Ingest.concurrently(
      () => validate("addresses", a, "uuid"),
      () => validate("companies", c, "uuid"),
      () => validate("users", u, "id",
        ("address_uuid", a, "uuid"), ("company_uuid", c, "uuid")))
  }

  /** Posts ETL (`posts_etl.py`): rename → load → FK check vs users. */
  def postsEtl(spark: SparkSession, payload: String,
      warehouseDir: String): LoadReport = sizedCodegen(spark, payload) {
    val posts = RefPipeline.normalizePosts(Ingest.readJsonString(spark, payload))
    val Seq(p, users) = Ingest.concurrently(
      () => writeAndReadBack(posts, s"$warehouseDir/posts.parquet"),
      () => spark.read.parquet(s"$warehouseDir/users.parquet"))
    validate("posts", p, "id", ("user_id", users, "id"))
  }

  /** Comments ETL (`comments_etl.py`): rename → load → FK check vs posts. */
  def commentsEtl(spark: SparkSession, payload: String,
      warehouseDir: String): LoadReport = sizedCodegen(spark, payload) {
    val comments = RefPipeline.normalizeComments(Ingest.readJsonString(spark, payload))
    val Seq(cm, posts) = Ingest.concurrently(
      () => writeAndReadBack(comments, s"$warehouseDir/comments.parquet"),
      () => spark.read.parquet(s"$warehouseDir/posts.parquet"))
    validate("comments", cm, "id", ("post_id", posts, "id"))
  }

  /** The committed files of a table this call just wrote from `written`,
    * read at the schema it was written with: the scan is real, only the
    * parquet footer inference of a schema already in hand is skipped. */
  private def readBack(written: DataFrame, path: String): DataFrame =
    written.sparkSession.read
      .schema(GraftColumnBridge.asNullable(written.schema)).parquet(path)

  /** Full-refresh load of `df`, then [[readBack]] of what was written. */
  private def writeAndReadBack(df: DataFrame, path: String): DataFrame = {
    Ingest.writeParquetOverwrite(df, path)
    readBack(df, path)
  }

  /** The post-load barrier for one table: one action over
    * [[Relational.integrity]]. */
  private def validate(table: String, df: DataFrame, pk: String,
      fks: (String, DataFrame, String)*): LoadReport = {
    val r = Relational.integrity(df, pk, fks: _*).head()
    LoadReport(table, r.getAs[Long]("rows"), r.getAs[Long]("fk_orphans"),
      r.getAs[Long]("pk_duplicates"), r.getAs[Long]("pk_nulls"))
  }

  /** The reference's three analytic queries over the loaded warehouse —
    * the post-ETL query surface (`sql/blog_post_queries.sql`), run here
    * as Postgres ran them: eagerly, with their results handed back. The
    * two table reads, then the three queries, run concurrently. Each
    * result is a local DataFrame (a `LocalRelation`): collecting it
    * starts no job and keeps the query's row order. */
  def warehouseQueries(spark: SparkSession, warehouseDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val Seq(users, comments) = Ingest.concurrently(
      () => spark.read.parquet(s"$warehouseDir/users.parquet"),
      () => spark.read.parquet(s"$warehouseDir/comments.parquet"))
    def local(query: => DataFrame): () => DataFrame = () => {
      val q = query
      spark.createDataFrame(q.collect().toSeq.asJava, q.schema)
    }
    val Seq(top, perPost, longest) = Ingest.concurrently(
      local(RefQueries.topCommenter(users, comments)),
      local(RefQueries.commentsPerPost(comments)),
      local(RefQueries.longestComments(comments)))
    (top, perPost, longest)
  }
}
