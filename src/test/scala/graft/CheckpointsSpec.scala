package graft

import org.apache.spark.sql.DataFrame

class CheckpointsSpec extends SparkSpec {
  import Checkpoints._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A frame whose plan no other test caches (`cache` of an equal plan
    * would reuse the existing entry). */
  private val ids = new java.util.concurrent.atomic.AtomicInteger
  private def frame(): DataFrame =
    spark.range(0, 50, 1, 2).selectExpr(s"id * ${ids.incrementAndGet()} AS v")

  test("scoped releases its pins and caches on normal exit and on a throw") {
    val before = persisted
    val n = scoped {
      pin(frame())
      val c = cache(frame())
      c.count()
      assert(persisted.size == before.size + 2)
      c.count()
    }
    assert(n == 50)
    assert(persisted == before)
    intercept[IllegalStateException] {
      scoped {
        pin(frame())
        cache(frame()).count()
        cache(spark.sparkContext.parallelize(1 to 10)).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(persisted == before)
  }

  test("a returned frame that reads an inner pin stays readable; the outer " +
    "scope frees it") {
    val before = persisted
    scoped {
      val (lazyOverPin, lazyOverCache) = scoped {
        val p = pin(frame())
        val c = cache(frame())
        c.count()
        pin(frame()) // not read by the result: freed at the inner exit
        (p.limit(25), c.limit(25))
      }
      assert(persisted.size == before.size + 2)
      assert(lazyOverPin.count() == 25)
      assert(lazyOverCache.count() == 25)
      assert(persisted.size == before.size + 2)
    }
    assert(persisted == before)
  }

  test("release frees a pinned and a cached frame at once") {
    val before = persisted
    val p = pin(frame())
    assert(persisted.size == before.size + 1)
    release(p)
    assert(persisted == before)
    val c = cache(frame())
    c.count()
    assert(persisted.size == before.size + 1)
    release(c)
    assert(persisted == before)
  }

  test("a pin made on another thread does not join the caller's scope") {
    val before = persisted
    var other: DataFrame = null
    scoped {
      val t = new Thread(() => other = pin(frame()))
      t.start()
      t.join()
    }
    assert(persisted.size == before.size + 1, "the other thread's pin was freed")
    release(other)
    assert(persisted == before)
  }
}
