package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Memo

/** The per-session memo's own rules, on plain values: one build per cold
  * key under a race, retry after a failed build, the per-tag LRU bound,
  * and tag-scoped clearing. The Spark-valued uses (LSH frames, ANN
  * models, the path-keyed index marker's rebuild) are covered in
  * MlSpec. */
class MemoSpec extends AnyFunSuite {
  test("racing callers on one cold key run its build exactly once and share the value") {
    Memo.clear("race")
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[AnyRef] {
          override def call(): AnyRef = {
            go.await()
            Memo.get("race", "cold") {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while others arrive
              new Object
            }
          }
        }))
      go.countDown()
      val got = futs.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get() === 1)
      assert(got.forall(_ eq got.head), "every caller must get the one value")
    } finally pool.shutdown()
    Memo.clear("race")
  }

  test("a build that throws memoizes nothing and the key stays retryable") {
    Memo.clear("flaky")
    intercept[IllegalStateException] {
      Memo.get[String]("flaky", "k")(throw new IllegalStateException("boom"))
    }
    assert(Memo.get("flaky", "k")("built") === "built")
    assert(Memo.get("flaky", "k")("rebuilt") === "built", "the retry's value is held")
    Memo.clear("flaky")
  }

  test("filling one tag past its bound evicts only from that tag, oldest first") {
    Memo.clear("full", "kept")
    Memo.get("kept", "k")("v")
    (1 to Memo.MaxEntries + 3).foreach(i => Memo.get("full", Int.box(i))(s"v$i"))
    assert(Memo.size("full") === Memo.MaxEntries)
    assert(Memo.size("kept") === 1, "another tag's entries must survive")
    // the newest keys are held, the oldest were forgotten and rebuild
    assert(Memo.get("full", Int.box(Memo.MaxEntries + 3))("new") ===
      s"v${Memo.MaxEntries + 3}")
    assert(Memo.get("full", Int.box(1))("rebuilt") === "rebuilt")
    Memo.clear("full", "kept")
  }

  test("clear(\"a\") forgets tag a and keeps the entries of tag b") {
    Memo.clear("a", "b")
    Memo.get("a", "k")("a1")
    Memo.get("b", "k")("b1")
    Memo.clear("a")
    assert(Memo.size("a") === 0)
    assert(Memo.size("b") === 1)
    assert(Memo.get("a", "k")("a2") === "a2")
    assert(Memo.get("b", "k")("b2") === "b1")
    Memo.clear("a", "b")
  }
}
