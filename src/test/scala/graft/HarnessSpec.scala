package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

/** The measurement spine: one place that builds sessions, one conf
  * function, one timed run. */
class HarnessSpec extends SparkSpec {

  test("src/main builds sessions only through Harness, never at 32 cores") {
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toList
      finally walk.close()
    assert(sources.nonEmpty)
    val sites = sources.flatMap { case (p, src) =>
      Seq.fill(Pattern.quote("SparkSession.builder()").r.findAllIn(src).size)(
        p.getFileName.toString)
    }
    assert(sites == Seq("Harness.scala"), s"SparkSession.builder() in: $sites")
    val pinned = sources.collect { case (p, src) if src.contains("local[32]") => p }
    assert(pinned.isEmpty, s"literal local[32] in: $pinned")
  }

  test("SPARK_GRAFT_CPUS=N gives local[N] and N shuffle partitions") {
    Seq("1", "7").foreach { n =>
      val conf = Harness.conf(Map("SPARK_GRAFT_CPUS" -> n)).toMap
      assert(conf("spark.master") == s"local[$n]")
      assert(conf("spark.sql.shuffle.partitions") == n)
    }
    val default = Harness.conf(Map.empty).toMap
    assert(default("spark.master") == "local[4]")
    assert(default("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(default("spark.sql.session.timeZone") == "UTC")
  }

  test("run times a failing query and releases tracked caches") {
    val cached = TrackedCaches.track(spark.range(10).toDF("x").cache())
    cached.count()
    val r = Harness.run(spark, throw new IllegalStateException("boom"))
    assert(!r.ok && r.error.exists(_.getMessage == "boom") && r.wall >= 0)
    assert(intercept[IllegalStateException](r.seconds).getMessage == "boom")
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "run must release tracked caches")
    val ok = Harness.run(spark, spark.range(100).toDF("x"))
    assert(ok.ok && ok.seconds >= 0 && ok.cpuMs >= 0 && ok.gcMs >= 0)
  }
}
