package graft.store

import graft.SparkSpec
import graft.operators.Knn
import java.nio.file.{Files, Path => JPath}

class ComponentSpec extends SparkSpec {

  private def live(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("id").collect().map(_.getLong(0))
      .toSeq.sorted

  test("replace: a write that throws leaves the live component readable " +
    "and unchanged; a successful replace swaps it and leaves no scratch") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("component_replace").toString
    (1L to 5L).toDF("id").write.parquet(s"$path/part")
    val tmp = new java.io.File(s"$path/_compact_tmp")

    val err = intercept[IllegalStateException] {
      Component.replace(spark, path, "part") { t =>
        // half the new component lands before the failure
        (100L to 101L).toDF("id").write.parquet(s"$t/part")
        throw new IllegalStateException("write failed mid-compaction")
      }
    }
    assert(err.getMessage.contains("mid-compaction"))
    assert(live(s"$path/part") == (1L to 5L))
    assert(!tmp.exists(), "failed write left its scratch root behind")

    Component.replace(spark, path, "part") { t =>
      spark.read.parquet(s"$path/part").where($"id" > 2L)
        .write.parquet(s"$t/part")
    }
    assert(live(s"$path/part") == (3L to 5L))
    assert(!tmp.exists(), "successful replace left _compact_tmp behind")
    assert(Component.manifest(spark, Component.rows(spark, path, "part"))
      .as[(String, Long)].collect().toSeq == Seq("part" -> 3L))
  }

  test("an unreadable graph-store tombstone table raises instead of " +
    "resurrecting deleted nodes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val df = (0L until 40L).map { i =>
      val v = Array.fill(8)(0.5f * rnd.nextGaussian().toFloat)
      v((i % 2).toInt) += 5.0f
      (i, v)
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graph_corrupt_del").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 4, c = 4, nprobe = 2, buckets = 4)
    val probe = df.where($"vec_id" === 0L)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    def search() = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 6, hops = 2, k = 3).collect()
    val victim = search().head.getAs[Long]("neighbor_id")
    Knn.deleteFromGraphIndex(Seq(victim).toDF("vec_id"), "vec_id", dir)
    assert(!search().exists(_.getAs[Long]("neighbor_id") == victim))

    // garbage bytes over every tombstone file (checksums dropped, so
    // the failure is the unreadable parquet itself)
    val files = Files.list(java.nio.file.Paths.get(s"$dir/deletes"))
      .toArray.map(_.asInstanceOf[JPath]).toSeq
    files.filter(_.getFileName.toString.endsWith(".crc"))
      .foreach(Files.delete)
    val parts = files.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(p => Files.write(p, "not a parquet file".getBytes("UTF-8")))
    intercept[Exception](search())
  }
}
