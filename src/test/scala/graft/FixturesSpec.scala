package graft

import java.io.File
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Fixtures

class FixturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the dir is only part of the key: no table is read
  private val sf = "fixtures-spec"

  test("concurrent callers of one key build it once") {
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      val roots = (1 to 4).map(_ => pool.submit(new Callable[String] {
        def call(): String = Fixtures(spark, "FixturesSpec.once", sf) { f =>
          builds.incrementAndGet()
          Thread.sleep(200)
          f.root("graft_fx_once_")
        }
      })).map(_.get()).toSet
      assert(builds.get == 1)
      assert(roots.size == 1)
    } finally { pool.shutdownNow(): Unit }
  }

  test("a builder may request other keys (nested builds)") {
    // enough nested keys that some share the outer key's hash bin: a
    // single ConcurrentHashMap.computeIfAbsent would throw
    // "Recursive update" here
    val sum = Fixtures(spark, "FixturesSpec.outer", sf) { _ =>
      (1 to 64).map(i =>
        Fixtures(spark, s"FixturesSpec.inner$i", sf)(_ => i)).sum
    }
    assert(sum == 64 * 65 / 2)
  }

  test("a failed build leaves no directory and no entry; the next call rebuilds") {
    val builds = new AtomicInteger
    var root = ""
    val e = intercept[IllegalStateException] {
      Fixtures(spark, "FixturesSpec.failing", sf) { f =>
        builds.incrementAndGet()
        root = f.root("graft_fx_fail_")
        assert(new File(root).mkdirs())
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!new File(root).exists())
    val got = Fixtures(spark, "FixturesSpec.failing", sf) { _ =>
      builds.incrementAndGet(); "rebuilt"
    }
    assert(got == "rebuilt" && builds.get == 2)
  }

  test("release unpersists every pin and deletes the parent directory") {
    val (root, pins) = Fixtures(spark, "FixturesSpec.pinned", sf) { f =>
      val r = f.root("graft_fx_pin_")
      spark.range(10).write.parquet(r)
      (r, Seq(f.pin(spark.read.parquet(r)), f.pin(spark.range(5).toDF())))
    }
    val ids = pins.map(_.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id)
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    val parent = new File(root).getParentFile
    assert(parent.getName ==
      "graft_fixtures_" + spark.sparkContext.applicationId)
    val dropped = Fixtures.release(spark)
    assert(dropped.map(_._1).contains("FixturesSpec.pinned"))
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains))
    assert(!parent.exists())
  }
}
