package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** [[Publish]]: the one way a file becomes visible — whole or not at
  * all, create-exclusive when asked, with ordinary permissions, and a
  * directory swap that never deletes the only committed copy. */
class PublishSpec extends AnyFunSuite {

  private def text(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def siblings(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
    finally ls.close()
  }

  test("replace: a writer that throws keeps the old bytes and leaves no temporary sibling") {
    val dir = Files.createTempDirectory("publish_replace")
    val target = dir.resolve("_manifest.json")
    Publish.replace(target)(Files.write(_, bytes("old")))
    val e = intercept[IllegalStateException] {
      Publish.replace(target) { tmp =>
        Files.write(tmp, bytes("half"))
        throw new IllegalStateException("writer died")
      }
    }
    assert(e.getMessage == "writer died")
    assert(text(target) == "old")
    assert(siblings(dir) == Set("_manifest.json"))
    Publish.replace(target)(Files.write(_, bytes("new")))
    assert(text(target) == "new")
    assert(siblings(dir) == Set("_manifest.json"))
  }

  test("create: of two threads racing on one target exactly one wins, and the winner's bytes stay") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      (1 to 50).foreach { round =>
        val dir = Files.createTempDirectory("publish_create")
        val target = dir.resolve("txn-journal.json")
        val barrier = new CyclicBarrier(2)
        val results = Seq("a", "b").map { who =>
          pool.submit(new Callable[Boolean] {
            def call(): Boolean = Publish.create(target) { tmp =>
              Files.write(tmp, bytes(who))
              barrier.await(10, TimeUnit.SECONDS) // both written before either publishes
            }
          })
        }.map(_.get(30, TimeUnit.SECONDS))
        assert(results.count(identity) == 1, s"round $round: $results")
        val winner = if (results.head) "a" else "b"
        assert(text(target) == winner, s"round $round")
        assert(siblings(dir) == Set("txn-journal.json"), s"round $round")
      }
    } finally pool.shutdownNow()
  }

  test("published files get the permissions of a plain Files.write in the same directory") {
    val dir = Files.createTempDirectory("publish_perms")
    val plain = Files.write(dir.resolve("plain"), bytes("x"))
    val replaced = dir.resolve("replaced")
    Publish.replace(replaced)(Files.write(_, bytes("x")))
    val created = dir.resolve("created")
    assert(Publish.create(created)(Files.write(_, bytes("x"))))
    val want = Files.getPosixFilePermissions(plain)
    assert(Files.getPosixFilePermissions(replaced) == want)
    assert(Files.getPosixFilePermissions(created) == want)
  }

  test("swapDir: a missing staged directory throws, keeps the target's files and leaves no .old") {
    val base = Files.createTempDirectory("publish_swap")
    val target = base.resolve("t")
    Files.createDirectories(target)
    Files.write(target.resolve("part-0.parquet"), bytes("committed"))
    intercept[java.nio.file.NoSuchFileException] {
      Publish.swapDir(base.resolve("t.staging"), target)
    }
    assert(siblings(target) == Set("part-0.parquet"))
    assert(text(target.resolve("part-0.parquet")) == "committed")
    assert(siblings(base) == Set("t"))
    // And a staged directory that exists replaces the target whole.
    val staged = Files.createDirectories(base.resolve("t.staging"))
    Files.write(staged.resolve("part-1.parquet"), bytes("fresh"))
    Publish.swapDir(staged, target)
    assert(siblings(target) == Set("part-1.parquet"))
    assert(siblings(base) == Set("t"))
  }
}
