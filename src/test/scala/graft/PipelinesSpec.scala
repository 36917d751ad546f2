package graft

import graft.pipelines.Pipelines
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge.drainListenerBus
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Full-pipeline parity: the reference's three DAGs run end-to-end over
  * jsonplaceholder-shaped payloads, integrity holds, and the three
  * blog-post queries produce the expected answers over the warehouse. */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private val usersPayload =
    """[{"id": 1, "name": "Ann", "username": "ann", "email": "ann@x.com",
      |  "address": {"street": "Main St", "suite": "A1", "city": "S", "zipcode": "1",
      |    "geo": {"lat": "1.5", "lng": "2.5"}},
      |  "phone": "1", "website": "a.com",
      |  "company": {"name": "Acme", "catchPhrase": "do", "bs": "syn"}},
      | {"id": 2, "name": "Bob", "username": "bob", "email": "bob@x.com",
      |  "address": {"street": "Elm St", "suite": "B2", "city": "S", "zipcode": "2",
      |    "geo": {"lat": "3.5", "lng": "4.5"}},
      |  "phone": "2", "website": "b.com",
      |  "company": {"name": "Acme", "catchPhrase": "do", "bs": "syn"}}]""".stripMargin

  private val postsPayload =
    """[{"userId": 1, "id": 10, "title": "t10", "body": "b10"},
      | {"userId": 1, "id": 11, "title": "t11", "body": "b11"},
      | {"userId": 2, "id": 20, "title": "t20", "body": "b20"}]""".stripMargin

  private val commentsPayload =
    """[{"postId": 10, "id": 100, "name": "c1", "email": "ann@x.com", "body": "nice"},
      | {"postId": 10, "id": 101, "name": "c2", "email": "ghost@x.com", "body": "longest body"},
      | {"postId": 11, "id": 102, "name": "c3", "email": "ghost@x.com", "body": "ok"},
      | {"postId": 20, "id": 103, "name": "c4", "email": "ann@x.com", "body": "hm"}]""".stripMargin

  test("three-DAG flow end-to-end: stage, normalize, load, validate, query") {
    val staging = Files.createTempDirectory("graft_staging").toString
    val wh = Files.createTempDirectory("graft_wh").toString

    val userReports = Pipelines.usersEtl(spark, usersPayload, staging, wh)
    assert(userReports.forall(_.ok), userReports.toString)
    assert(userReports.find(_.table == "companies").get.rows == 1) // Acme deduped

    val postsReport = Pipelines.postsEtl(spark, postsPayload, wh)
    assert(postsReport.ok && postsReport.rows == 3)

    val commentsReport = Pipelines.commentsEtl(spark, commentsPayload, wh)
    assert(commentsReport.ok && commentsReport.rows == 4)

    val (topCommenter, perPost, longest) = Pipelines.warehouseQueries(spark, wh)

    // Query (a): ann and ghost tie at 2 comments; ghost is unregistered
    // (NULL user_id through the right join).
    val top = topCommenter.collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getLong(2))).toSet
    assert(top == Set((Some(1L), "ann@x.com", 2L), (None, "ghost@x.com", 2L)))

    // Query (b): comments per post, ordered by post id.
    assert(perPost.as[(Long, Long)].collect().toSeq ==
      Seq((10L, 2L), (11L, 1L), (20L, 1L)))

    // Query (c): single longest comment body.
    assert(longest.as[(Long, Long)].collect().toSeq ==
      Seq((101L, "longest body".length.toLong)))
  }

  test("violations reach the LoadReport: orphan FK, duplicate and NULL PK") {
    val staging = Files.createTempDirectory("graft_staging3").toString
    val wh = Files.createTempDirectory("graft_wh3").toString
    Pipelines.usersEtl(spark, usersPayload, staging, wh)

    // userId 3 is no user; id 11 occurs twice; the last post has no id.
    val posts = Pipelines.postsEtl(spark,
      """[{"userId": 1, "id": 10, "title": "t10", "body": "b10"},
        | {"userId": 3, "id": 11, "title": "t11", "body": "b11"},
        | {"userId": 2, "id": 11, "title": "t11b", "body": "b11b"},
        | {"userId": 1, "title": "t-", "body": "b-"}]""".stripMargin, wh)
    assert(posts == Pipelines.LoadReport("posts", rows = 4, fkOrphans = 1,
      pkDuplicates = 1, pkNulls = 1))
    assert(!posts.ok)

    // A NULL postId is exempt; postId 99 is the one orphan.
    val comments = Pipelines.commentsEtl(spark,
      """[{"postId": 10, "id": 100, "name": "c1", "email": "a@x.com", "body": "x"},
        | {"postId": null, "id": 101, "name": "c2", "email": "b@x.com", "body": "y"},
        | {"postId": 99, "id": 102, "name": "c3", "email": "c@x.com", "body": "z"}]"""
        .stripMargin, wh)
    assert(comments == Pipelines.LoadReport("comments", rows = 3, fkOrphans = 1,
      pkDuplicates = 0, pkNulls = 0))
    assert(!comments.ok)
  }

  test("concurrent branches keep the caller's job group; parents land before the child") {
    val staging = Files.createTempDirectory("graft_staging4").toString
    val wh = Files.createTempDirectory("graft_wh4").toString
    val sc = spark.sparkContext
    // The bus delivers events in posting order; `seq` numbers them.
    val seq = new AtomicInteger()
    val started = new ConcurrentHashMap[Int, Int]()
    val ended = new ConcurrentHashMap[Int, Int]()
    val group = new ConcurrentHashMap[Int, String]()
    val execOf = new ConcurrentHashMap[Int, Long]()
    val plans = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        started.put(e.jobId, seq.incrementAndGet())
        group.put(e.jobId, prop("spark.jobGroup.id").getOrElse("<none>"))
        execOf.put(e.jobId, prop("spark.sql.execution.id").fold(-1L)(_.toLong))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, seq.incrementAndGet())
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("g", "pipelines under one job group")
    try {
      assert(Pipelines.usersEtl(spark, usersPayload, staging, wh).forall(_.ok))
      assert(Pipelines.postsEtl(spark, postsPayload, wh).ok)
      assert(Pipelines.commentsEtl(spark, commentsPayload, wh).ok)
      drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }

    val jobs = started.keySet.asScala.toSeq
    val offGroup = jobs.filter(j => group.get(j) != "g").map(j => j -> group.get(j))
    assert(jobs.nonEmpty && offGroup.isEmpty, offGroup)
    def writes(table: String) = jobs.filter(j => Option(plans.get(execOf.get(j)))
      .exists(p => p.contains("InsertIntoHadoopFsRelationCommand") &&
        p.contains(s"$wh/$table.parquet")))
    Seq("addresses", "companies", "users", "posts", "comments").foreach(t =>
      assert(writes(t).nonEmpty, s"no write job seen for $t"))
    val parentsEnd = (writes("addresses") ++ writes("companies")).map(ended.get).max
    assert(writes("users").map(started.get).min > parentsEnd)
  }

  test("a failed staging write fails usersEtl before the load; no branch outlives it") {
    val staging = Files.createTempDirectory("graft_staging5")
    val wh = Files.createTempDirectory("graft_wh5")
    // A non-empty directory where the array layout goes: its rename fails.
    Files.createDirectories(staging.resolve("users.json").resolve("occupied"))
    intercept[java.io.IOException] {
      Pipelines.usersEtl(spark, usersPayload, staging.toString, wh.toString)
    }
    Seq("users", "addresses", "companies").foreach(t =>
      assert(!Files.exists(wh.resolve(s"$t.parquet")), s"$t was loaded"))
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-concurrently-"))
    assert(alive.isEmpty, alive)
  }

  test("idempotent reload: running the load twice leaves identical state") {
    val staging = Files.createTempDirectory("graft_staging2").toString
    val wh = Files.createTempDirectory("graft_wh2").toString
    Pipelines.usersEtl(spark, usersPayload, staging, wh)
    val first = spark.read.parquet(s"$wh/users.parquet").collect().toSet
    val again = Pipelines.usersEtl(spark, usersPayload, staging, wh)
    assert(again.forall(_.ok))
    assert(spark.read.parquet(s"$wh/users.parquet").collect().toSet == first)
  }
}
