package graft.operators

import graft.TestSpark
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** CacheRegistry's scope contract: what a scope materializes is
  * released when it exits, normally or by exception, and a scope never
  * reaches another thread's tables.
  */
class CacheRegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def docs(tag: String): DataFrame = {
    import spark.implicits._
    val base = s"$tag the quick brown fox jumps over the lazy dog near the river"
    Seq((1L, base), (2L, base + " today"), (3L, s"$tag unrelated words entirely"))
      .toDF("doc_id", "text")
  }

  test("scoped releases every table it materialized when it returns") {
    val before = persistedIds
    val (t, pairs, inside) = CacheRegistry.scoped {
      val t = CacheRegistry.materialize(spark.range(100).toDF("id"))
      val pairs = Dedup.jaccardPairs(docs("ret"), "text", "doc_id").count()
      (t, pairs, persistedIds -- before)
    }
    assert(pairs == 1L)
    assert(inside.size >= 2, inside) // the table + jaccardPairs' tables
    assert(t.storageLevel == StorageLevel.NONE)
    assert((persistedIds & inside).isEmpty, persistedIds & inside)
  }

  test("scoped releases its tables when the body throws") {
    val before = persistedIds
    var t: DataFrame = null
    var inside = Set.empty[Int]
    intercept[IllegalStateException] {
      CacheRegistry.scoped {
        t = CacheRegistry.materialize(spark.range(50).toDF("id"))
        Dedup.jaccardPairs(docs("thr"), "text", "doc_id").count()
        inside = persistedIds -- before
        throw new IllegalStateException("query failed")
      }
    }
    assert(inside.nonEmpty)
    assert(t.storageLevel == StorageLevel.NONE)
    assert((persistedIds & inside).isEmpty, persistedIds & inside)
  }

  test("one thread's scope closing leaves another thread's tables cached") {
    val aMaterialized = new CountDownLatch(1)
    val bClosed = new CountDownLatch(1)
    @volatile var aTables = Set.empty[Int]
    @volatile var aStillCached = false
    @volatile var aPairs = -1L
    @volatile var failure: Throwable = null
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case e: Throwable => failure = e })
    val a = guarded {
      CacheRegistry.scoped {
        val before = persistedIds
        val pairs = Dedup.jaccardPairs(docs("a"), "text", "doc_id")
        aTables = persistedIds -- before
        aMaterialized.countDown()
        assert(bClosed.await(120, TimeUnit.SECONDS))
        aStillCached = aTables.subsetOf(persistedIds)
        aPairs = pairs.count() // the in-flight consumer after B's release
      }
    }
    val b = guarded {
      assert(aMaterialized.await(120, TimeUnit.SECONDS))
      CacheRegistry.scoped {
        Dedup.jaccardPairs(docs("b"), "text", "doc_id").count()
      }
      bClosed.countDown()
    }
    a.start(); b.start(); a.join(); b.join()
    assert(failure == null, String.valueOf(failure))
    assert(aTables.nonEmpty)
    assert(aStillCached, "B's scope released A's in-flight tables")
    assert(aPairs == 1L)
    assert((persistedIds & aTables).isEmpty) // A's own scope released them
  }

  test("a child thread does not inherit its parent's scope") {
    @volatile var child: DataFrame = null
    CacheRegistry.scoped {
      val t = new Thread(() =>
        child = CacheRegistry.materialize(spark.range(10).toDF("id")))
      t.start(); t.join()
    }
    try assert(child.storageLevel != StorageLevel.NONE)
    finally child.unpersist()
  }
}
