package graft

import graft.pipeline.TaskMemo
import org.scalatest.funsuite.AnyFunSuite

/** The byte-bounded task memo behind the md5 token passes. Pure JVM —
  * no Spark. */
class TaskMemoSpec extends AnyFunSuite {

  test("TaskMemo holds at most its byte budget; misses past it still compute exact values") {
    var calls = 0
    val memo = new TaskMemo[Array[Double]](10000L, TaskMemo.DoublesBytes)({ k =>
      calls += 1
      Array.fill(100)(k.length.toDouble)
    })
    // each entry costs keyBytes + 16 + 8·100 ≈ 910 B: eleven fit
    (0 until 100).foreach(i => assert(memo(s"k$i").head == s"k$i".length))
    assert(memo.usedBytes <= 10000L && memo.size == 11, memo.usedBytes)
    val c = calls
    memo("k0"): Unit // kept: a hit
    assert(calls == c)
    memo("k99"): Unit // past the cap: recomputed, never stored
    assert(calls == c + 1 && memo.size == 11)
  }

  test("4096-wide token vectors (the request-reachable maxsim dims bound) stay under the per-task budget") {
    val memo = new TaskMemo[Array[Double]](TaskMemo.MaxBytes,
      TaskMemo.DoublesBytes)(_ => new Array[Double](4096))
    (0 until 2000).foreach(i => memo(s"tok$i"))
    // 2000 × 32 KB = 64 MB offered; an entry-count cap would keep all
    val entry = TaskMemo.keyBytes("tok1000") + TaskMemo.DoublesBytes(
      new Array[Double](4096))
    assert(memo.usedBytes <= TaskMemo.MaxBytes &&
      memo.usedBytes > TaskMemo.MaxBytes - entry, memo.usedBytes)
    assert(memo.size < 2000)
  }
}
