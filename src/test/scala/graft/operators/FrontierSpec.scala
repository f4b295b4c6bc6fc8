package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class FrontierSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("novelUrls == batch canon set minus store canon set (exact, bloom invisible)") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_frontier_spec") { root =>
      val path = s"$root/store"
      val seen = (1 to 300).map(i => s"https://www.f${i % 9}.com/p/$i")
      Frontier.writeSeenStore(seen.toDF("url"), "url", path, capacity = 10000)
      // batch: messy spellings of 150 seen urls + 100 genuinely new ones
      val batch = (1 to 150).map(i => s"HTTPS://WWW.F${i % 9}.COM:443/p/$i?utm_source=x#frag") ++
        (1000 to 1099).map(i => s"https://www.f${i % 9}.com/p/$i")
      val novel = Frontier.novelUrls(spark, path, batch.toDF("url"), "url")
        .collect().map(_.getString(0)).toSet
      assert(novel === (1000 to 1099).map(i => s"https://www.f${i % 9}.com/p/$i").toSet,
        "canonicalization must unify the messy spellings with the stored clean ones")
    }
  }

  test("markSeen: previously-novel urls stop being novel; re-adding seen is harmless") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_frontier_mark") { root =>
      val path = s"$root/store"
      Frontier.writeSeenStore((1 to 50).map(i => s"https://m.io/$i").toDF("url"), "url",
        path, capacity = 10000)
      val batch = (40 to 80).map(i => s"https://m.io/$i").toDF("url")
      val firstNovel = Frontier.novelUrls(spark, path, batch, "url")
      assert(firstNovel.count() === 30)
      Frontier.markSeen(path, firstNovel, "canon", capacity = 10000)
      assert(Frontier.novelUrls(spark, path, batch, "url").count() === 0)
      // idempotent: re-marking the same urls must not resurrect novelty
      Frontier.markSeen(path, batch, "url", capacity = 10000)
      assert(Frontier.novelUrls(spark, path, batch, "url").count() === 0)
    }
  }

  test("hostless/garbage urls drop; empty store says everything is novel") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_frontier_empty") { root =>
      val path = s"$root/store"
      Frontier.writeSeenStore(Seq.empty[String].toDF("url"), "url", path, capacity = 100)
      val batch = Seq("https://a.io/x", "not a url", "https://b.io/y").toDF("url")
      val novel = Frontier.novelUrls(spark, path, batch, "url")
        .collect().map(_.getString(0)).toSet
      assert(novel === Set("https://a.io/x", "https://b.io/y"))
    }
  }

  test("sharded sidecar: 64 per-chunk files; markSeen touches only the batch's chunks") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_frontier_shard") { root =>
      val path = s"$root/store"
      Frontier.writeSeenStore((1 to 200).map(i => s"https://s.io/$i").toDF("url"), "url",
        path, capacity = 10000)
      val dir = new java.io.File(path, "_bloom")
      // local-FS Hadoop writes .crc twins next to each chunk file
      def chunkFiles() = dir.listFiles().filter(_.getName.startsWith("chunk-"))
      val files = chunkFiles().sortBy(_.getName)
      assert(files.length === Frontier.Chunks, "one sidecar file per chunk")
      val before = files.map(f => f.getName -> f.lastModified()).toMap
      val sizes = files.map(_.length()).distinct
      assert(sizes.length === 1, "per-chunk filters share one bit size (mergeable)")
      Thread.sleep(1100) // fs mtime granularity
      // a 1-url batch hashes into exactly one chunk -> exactly one file rewritten
      Frontier.markSeen(path, Seq("https://s.io/99999").toDF("url"), "url",
        capacity = 10000)
      val touched = chunkFiles().filter(f => f.lastModified() != before(f.getName))
      assert(touched.length === 1,
        s"a single-url append must rewrite one chunk file, got ${touched.length}")
      assert(Frontier.novelUrls(spark, path,
        Seq("https://s.io/99999", "https://s.io/77777").toDF("url"), "url")
        .collect().map(_.getString(0)).toSet === Set("https://s.io/77777"))
    }
  }

  test("sidecar covers the store per chunk: bloom-positive for every stored url") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_frontier_cover") { root =>
      val path = s"$root/store"
      val urls = (1 to 500).map(i => s"https://c${i % 13}.io/p/$i")
      Frontier.writeSeenStore(urls.toDF("url"), "url", path, capacity = 10000)
      Frontier.markSeen(path, (501 to 700).map(i => s"https://c${i % 13}.io/p/$i")
        .toDF("url"), "url", capacity = 10000)
      // every stored url must be bloom-positive in ITS chunk (a Bloom never
      // misses its own inserts; chunk routing must agree between build,
      // append, and probe) -> novelUrls of the full stored set is empty
      assert(Frontier.novelUrls(spark, path,
        (1 to 700).map(i => s"https://c${i % 13}.io/p/$i").toDF("url"), "url")
        .count() === 0)
    }
  }

  test("tiny capacity degrades the bloom, never the answer (confirm join is exact)") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_frontier_tiny") { root =>
      val path = s"$root/store"
      // capacity 2 for 200 urls: the bloom saturates and flags ~everything
      // as maybe-seen; the exact confirm must still find the true novels
      Frontier.writeSeenStore((1 to 200).map(i => s"https://t.io/$i").toDF("url"), "url",
        path, capacity = 2)
      val batch = ((150 to 260).map(i => s"https://t.io/$i")).toDF("url")
      val novel = Frontier.novelUrls(spark, path, batch, "url")
        .collect().map(_.getString(0)).toSet
      assert(novel === (201 to 260).map(i => s"https://t.io/$i").toSet)
    }
  }
}
