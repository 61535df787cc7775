package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.spatial.{Snapshots, TableOps}

/** The one commit function: one refs read per attempt, and a lost CAS
  * reruns the body against the winner's head.
  */
class TableOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def table(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tableops").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    dir
  }

  private def refsReads[T](f: => T): (T, Long) = {
    val before = Snapshots.refsReads.get
    val r = f
    (r, Snapshots.refsReads.get - before)
  }

  test("commit reads the refs state once, committing or not") {
    val dir = table()
    val head = Snapshots.mainVersion(dir)
    val (v, reads) = refsReads(TableOps.commit(dir)(h => Some(h.copy(props = h.props + ("k" -> "1")))))
    assert(v == head + 1 && reads == 1)
    assert(Snapshots.readProps(dir).get("k").contains("1"))
    val (same, noopReads) = refsReads(TableOps.commit(dir)(_ => None))
    assert(same == v && noopReads == 1 && Snapshots.currentVersion(dir) == v)
  }

  test("a lost CAS reruns the body against the new head, one refs read per attempt") {
    val dir = table()
    val heads = Seq.newBuilder[Int]
    val (v, reads) = refsReads(TableOps.commit(dir) { h =>
      heads += h.v
      // a concurrent writer commits after this attempt read its head
      if (h.v == 1) Snapshots.updateProperties(dir, Map("other" -> "1"))
      h.edit(m => m.copy(deletes = m.deletes :+ "id = 1"))
    })
    assert(heads.result() == Seq(1, 2), "the second attempt must see the winner's head")
    assert(v == 3 && reads == 3, s"two attempts plus the concurrent commit's read, got $reads")
    val props = Snapshots.readProps(dir, Some(v))
    assert(props.get("other").contains("1") && props.get("graft.parentVersion").contains("2"))
    assert(Snapshots.read(spark, dir).count() == 1)
  }

  test("commits that need a snapshot fail on a path without one and commit nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tableops_empty").toString
    val positions = Seq(("f", 0L)).toDF("file_path", "pos")
    Seq[() => Any](
      () => Snapshots.updateProperties(dir, Map("k" -> "v")),
      () => Snapshots.evolvePartitionSpec(dir, add = Seq("bucket(2,id)")),
      () => Snapshots.deleteByPosition(spark, dir, positions),
      () => Snapshots.rewriteManifests(spark, dir),
      () => Snapshots.rewriteDataFiles(spark, dir)).foreach { op =>
      intercept[IllegalArgumentException](op())
    }
    assert(Snapshots.currentVersion(dir) == 0)
  }

  test("carry-forward is the default: an untouched head commits unchanged but for its stamps") {
    val dir = table()
    Snapshots.deleteMoR(spark, dir, "id = 2")
    val before = Snapshots.manifest(dir, None)
    val v = TableOps.commit(dir)(h => Some(h))
    val after = Snapshots.manifest(dir, Some(v))
    assert(after == before)
    assert(Snapshots.readProps(dir, Some(v)).get("graft.parentVersion").contains((v - 1).toString))
  }
}
