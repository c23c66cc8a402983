package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Versioned
import graft.sources.{FsAtomic, ManifestCoordinator}

/** The local filesystem under the `graftcnt` scheme, counting the
  * version log's metadata I/O: listings of `_versions` and opens of
  * `v<n>.json` records. */
class CountingFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = CountingFs.uri
  override def getScheme: String = CountingFs.scheme
}) {
  override def listStatus(p: Path): Array[FileStatus] = {
    if (p.getName == "_versions") CountingFs.listings.incrementAndGet()
    super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    if (p.getParent != null && p.getParent.getName == "_versions" &&
        p.getName.matches("v[0-9]+\\.json"))
      CountingFs.opens.incrementAndGet()
    super.open(p, bufferSize)
  }
}

object CountingFs {
  val scheme = "graftcnt"
  val uri: java.net.URI = java.net.URI.create(s"$scheme:///")
  val listings = new AtomicInteger(0)
  val opens = new AtomicInteger(0)
}

/** [[Versioned]]'s one commit loop seen from outside: the version-log
  * reads one uncontended write makes, and deterministic races. A race
  * is a [[ManifestCoordinator]] that, just before the first create of a
  * chosen `v<n>.json`, commits a racer through the public API (its own
  * creates pass straight through), so the write under test loses
  * exactly that number. */
class VersionedCommitLoopSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"d$i")).toDF("id", "v")

  /** Runs `body` with a fresh table dir on the counting scheme, the
    * scheme's filesystem and the local coordinator registered. */
  private def onCountingFs[T](body: String => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CountingFs.scheme}.impl", classOf[CountingFs].getName)
    FsAtomic.register(CountingFs.scheme, FsAtomic.LocalLinkCoordinator)
    try body(s"${CountingFs.scheme}://" +
      Files.createTempDirectory("graft-loop").toString + "/t")
    finally {
      FsAtomic.unregister(CountingFs.scheme)
      conf.unset(s"fs.${CountingFs.scheme}.impl")
    }
  }

  /** (`_versions` listings, record opens) made by `body`. */
  private def counted(body: => Unit): (Int, Int) = {
    CountingFs.listings.set(0)
    CountingFs.opens.set(0)
    body
    (CountingFs.listings.get, CountingFs.opens.get)
  }

  /** Commits `racer` just before the first create of `v<n>.json`. */
  private def raceAt(n: Long)(racer: => Unit): Unit =
    FsAtomic.register(CountingFs.scheme, new ManifestCoordinator {
      private var fired = false
      def createExclusive(fs: FileSystem, path: Path, content: String): Boolean = {
        if (!fired && path.getName == s"v$n.json") { fired = true; racer }
        FsAtomic.LocalLinkCoordinator.createExclusive(fs, path, content)
      }
    })

  /** Directories under `files/` that no version lists, as a group or a
    * deletion-vector artifact. */
  private def orphans(dir: String): Set[String] = {
    val local = new java.io.File(new java.net.URI(dir).getPath, "files")
    val listed = (0L to Versioned.latestVersion(spark, dir)).flatMap { v =>
      val m = Versioned.parseManifest(spark, dir, v)
      m.files ++ m.dvs.map(_._2)
    }.toSet
    local.list().toSet -- listed
  }

  private def ids(dir: String): Seq[Long] =
    Versioned.read(spark, dir).select("id").as[Long].collect().toSeq.sorted

  test("one uncontended appendOnce, append, commit and delete each list _versions once") {
    onCountingFs { dir =>
      Versioned.commit(rows(0 until 4), dir)
      Versioned.append(rows(4 until 6), dir)
      Versioned.appendOnce(rows(6 until 8), dir, "app", 0L)
      val appendOnce = counted(Versioned.appendOnce(rows(8 until 10), dir, "app", 1L))
      val append = counted(Versioned.append(rows(10 until 12), dir))
      val commit = counted(Versioned.commit(rows(0 until 6), dir))
      val delete = counted(Versioned.delete(spark, dir)(col("id") === 5L))
      info(s"(listings, record opens): appendOnce $appendOnce, append $append, " +
        s"commit $commit, delete $delete")
      assert(Versioned.latestVersion(spark, dir) == 6L)
      assert(ids(dir) == (0L until 5L))
      assert(appendOnce == ((1, 4)))
      assert(append == ((1, 2)))
      assert(commit == ((1, 1)))
      assert(delete == ((1, 2)))
    }
  }

  test("race: a racer commits the same appendOnce batch first") {
    onCountingFs { dir =>
      Versioned.commit(rows(0 until 3), dir)
      raceAt(1L)(Versioned.appendOnce(rows(3 until 5), dir, "app", 0L))
      assert(Versioned.appendOnce(rows(3 until 5), dir, "app", 0L).isEmpty)
      assert(Versioned.latestVersion(spark, dir) == 1L)
      assert(ids(dir) == (0L until 5L))
      assert(orphans(dir).isEmpty, "the abandoned batch's group must be deleted")
    }
  }

  test("race: another app's appendOnce wins, the batch lands at the next number") {
    onCountingFs { dir =>
      Versioned.commit(rows(0 until 3), dir)
      raceAt(1L)(Versioned.appendOnce(rows(3 until 5), dir, "other", 0L))
      assert(Versioned.appendOnce(rows(5 until 7), dir, "app", 0L).contains(2L))
      assert(ids(dir) == (0L until 7L))
      assert(Versioned.lastCommittedBatch(spark, dir, "app") == 0L)
      assert(Versioned.lastCommittedBatch(spark, dir, "other") == 0L)
      assert(orphans(dir).isEmpty)
    }
  }

  test("race: a delete losing to an append raises and leaves no group or artifact") {
    onCountingFs { dir =>
      Versioned.commit(rows(0 until 10), dir)
      raceAt(1L)(Versioned.append(rows(10 until 12), dir))
      intercept[java.util.ConcurrentModificationException] {
        Versioned.delete(spark, dir)(col("id") === 3L)
      }
      assert(Versioned.latestVersion(spark, dir) == 1L)
      assert(ids(dir) == (0L until 12L))
      assert(orphans(dir).isEmpty, "no group or dv-* artifact may be left")
    }
  }

  test("race: a commit losing to an addConstraint its snapshot violates raises") {
    onCountingFs { dir =>
      Versioned.commit(rows(1 until 6), dir)
      raceAt(1L)(Versioned.addConstraint(spark, dir, "pos", "id > 0"))
      val e = intercept[IllegalArgumentException] {
        Versioned.commit(rows(-1 until 2), dir)
      }
      assert(e.getMessage.contains("CHECK constraint violation"), e.getMessage)
      assert(Versioned.latestVersion(spark, dir) == 1L)
      assert(ids(dir) == (1L until 6L))
      assert(orphans(dir).isEmpty, "the commit's group must be deleted")
    }
  }
}
