package graft

import org.apache.spark.sql.DataFrame

class CheckpointsSpec extends SparkSpec {
  import Checkpoints._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(): DataFrame = spark.range(0, 50, 1, 2).selectExpr("id * 3 AS v")

  test("scoped releases its pins on normal exit and on a throw") {
    val before = persisted
    val n = scoped {
      pin(frame())
      val p = pin(frame())
      assert(persisted.size == before.size + 2)
      p.count()
    }
    assert(n == 50)
    assert(persisted == before)
    intercept[IllegalStateException] {
      scoped {
        pin(frame())
        pin(frame()).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(persisted == before)
  }

  test("a returned frame that reads an inner pin stays readable; the outer " +
    "scope frees it") {
    val before = persisted
    scoped {
      val (lazyOverPin, lazyOverJoin) = scoped {
        val p = pin(frame())
        val q = pin(frame())
        pin(frame()) // not read by the result: freed at the inner exit
        (p.limit(25), q.join(frame(), "v").limit(25))
      }
      assert(persisted.size == before.size + 2)
      assert(lazyOverPin.count() == 25)
      assert(lazyOverJoin.count() == 25)
      assert(persisted.size == before.size + 2)
    }
    assert(persisted == before)
  }

  test("release frees a pin at once; other frames are left alone") {
    val before = persisted
    val p = pin(frame())
    assert(persisted.size == before.size + 1)
    release(frame())
    release(p.filter("v > 3"))
    assert(persisted.size == before.size + 1)
    release(p)
    assert(persisted == before)
    scoped {
      val q = pin(frame())
      release(q)
      assert(persisted == before)
      pin(frame()).count()
    }
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
