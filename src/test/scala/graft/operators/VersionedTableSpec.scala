package graft.operators

import java.nio.file.Files

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {

  import spark.implicits._

  test("publish/read: readers always see a complete version; time travel works") {
    val root = Files.createTempDirectory("graft_vt").toString
    assert(VersionedTable.latestVersion(root).isEmpty)
    val v1 = VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    val v2 = VersionedTable.publish(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "s"), root)
    assert((v1, v2) === ((1L, 2L)))
    assert(VersionedTable.latestVersion(root) === Some(2L))
    assert(VersionedTable.read(spark, root).count() === 3L)
    // time travel: the superseded snapshot stays intact and readable
    val old = VersionedTable.readVersion(spark, root, 1L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(old.toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("crash between data write and pointer flip: readers keep the old version, next publish steps over the orphan") {
    val root = Files.createTempDirectory("graft_vt_crash").toString
    VersionedTable.publish(Seq((1L, 10L)).toDF("id", "v"), root)
    // simulate the crash: version directory fully written, pointer never flipped
    Seq((1L, 99L)).toDF("id", "v").write.parquet(s"$root/v=2")
    assert(VersionedTable.latestVersion(root) === Some(1L),
      "pointer must still name the last COMPLETE publish")
    assert(VersionedTable.read(spark, root).select("v").head().getLong(0) === 10L)
    // recovery: the next publish must not collide with the orphan dir
    val v3 = VersionedTable.publish(Seq((1L, 11L)).toDF("id", "v"), root)
    assert(v3 === 3L)
    assert(VersionedTable.read(spark, root).select("v").head().getLong(0) === 11L)
  }
}
