package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class BinaryIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("write/read roundtrip: one object per row, id from the key, bytes intact") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_bi_roundtrip") { root =>
      val dir = s"$root/store"
      val rows = Seq((1L, Array[Byte](1, 2, 3)), (7L, Array[Byte](9)), (42L, Array[Byte](5, 6)))
      BinaryIngest.writeFiles(rows.toDF("id", "content"), "id", "content", dir, ".bin")
      val back = BinaryIngest.readBinaryFiles(spark, dir, "*.bin")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
        .sortBy(_._1)
      assert(back.map(_._1).toSeq === Seq(1L, 7L, 42L))
      assert(back.map(_._2).toSeq === Seq(3L, 1L, 2L)) // length column from the source
      assert(back.map(_._3).toSeq === Seq(Seq[Byte](1, 2, 3), Seq[Byte](9), Seq[Byte](5, 6)))
    }
  }

  test("zero-byte objects are dropped by the listing (documented source behavior)") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_bi_empty") { root =>
      val dir = s"$root/store"
      BinaryIngest.writeFiles(
        Seq((1L, Array[Byte](1)), (2L, Array[Byte]())).toDF("id", "content"), "id", "content", dir, ".bin")
      val ids = BinaryIngest.readBinaryFiles(spark, dir, "*.bin").select("media_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(1L))
    }
  }

  test("glob is honored: non-matching objects are never surfaced") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_bi_glob") { root =>
      val dir = s"$root/store"
      BinaryIngest.writeFiles(Seq((5L, Array[Byte](1))).toDF("id", "content"), "id", "content", dir, ".png")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "999.txt"), Array[Byte](2))
      val ids = BinaryIngest.readBinaryFiles(spark, dir, "*.png").select("media_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(5L))
    }
  }

  test("null id or null content rows are dropped, not executor NPEs") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_bi_nulls") { root =>
      val dir = s"$root/store"
      val rows = Seq((Option(1L), Option(Array[Byte](1))),
        (Option.empty[Long], Option(Array[Byte](2))),
        (Option(3L), Option.empty[Array[Byte]]))
      BinaryIngest.writeFiles(rows.toDF("id", "content"), "id", "content", dir, ".bin")
      val ids = BinaryIngest.readBinaryFiles(spark, dir, "*.bin").select("media_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(1L))
    }
  }

  test("overwrite clears stale objects from a previous larger run") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_bi_overwrite") { root =>
      val dir = s"$root/store"
      BinaryIngest.writeFiles(
        Seq((1L, Array[Byte](1)), (2L, Array[Byte](2))).toDF("id", "content"), "id", "content", dir, ".bin")
      BinaryIngest.writeFiles(Seq((3L, Array[Byte](3))).toDF("id", "content"), "id", "content", dir, ".bin")
      val ids = BinaryIngest.readBinaryFiles(spark, dir, "*.bin").select("media_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(3L))
    }
  }
}
