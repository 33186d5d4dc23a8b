package graft

import org.apache.spark.sql.SparkSession

/** Contention sentinels stamped into every benchmark run: perfbench's
  * `Runner` reads both before and after its workload, and `run.py` flags
  * the run `disturbed` when the readings drift apart.
  *
  *  - `cpu` (r9, VERDICT r8): a fixed-cost in-memory agg — no I/O, no
  *    shuffle variance, pure CPU — catches co-tenant compute bursts.
  *  - `Mem` (r11): a multi-threaded 1 GiB array stream — bandwidth-bound
  *    by construction — catches the contention class the sf10 campaign
  *    proved the CPU sentinel CANNOT see (a sentinel-quiet host still
  *    read uniformly ~1.8× on every query including pure scans: a
  *    co-tenant saturating memory bandwidth leaves in-cache CPU timing
  *    untouched, because the CPU sentinel's working set is one
  *    cache-resident long per row).
  *
  * Both are deliberately NOT min-of-N: their job is to MEASURE the
  * noise, not suppress it. Run each once untimed first — the CPU
  * sentinel's first execution pays its own codegen compile (r10), the
  * memory probe's first pass pays the array fill + JIT.
  */
object Sentinels {
  def cpu(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // per-row long multiply (the CPU work) then a double-typed sum: the
    // long sum of 4e8 products is ~2e26 and overflows ANSI-mode bigint
    spark.range(0L, 400000000L, 1L, 32)
      .selectExpr("sum(cast(id * 2654435761 as double))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Allocates ONCE at construction (GC/page-fault variance stays out of
    * the timings) and fills eagerly; `run()` streams the array with `nt`
    * threads and returns seconds. miB=0 disables the probe (run()=0.0).
    * The array stays strongly reachable for the owner's lifetime — a
    * resident cost the caller sizes (perfbench: its plan's
    * `mem_sentinel_mib`). */
  final class Mem(miB: Int, nt: Int) {
    // MiB → longs, computed in Long (r13, ADVICE r12): Int math overflows
    // at 16384 MiB (negative array size — startup crash) and wraps to 0 at
    // 32768 (probe silently disabled while the artifact still stamps 0.0)
    private val longs = math.max(0, miB).toLong * 131072L
    require(longs <= Int.MaxValue, s"Sentinels.Mem miB=$miB exceeds " +
      s"the max supported ${Int.MaxValue / 131072} MiB (Java arrays are Int-indexed)")
    private val arr = new Array[Long](longs.toInt)
    java.util.Arrays.fill(arr, 1L)
    private val acc = new java.util.concurrent.atomic.AtomicLong
    def run(): Double = {
      val n = arr.length
      if (n == 0) return 0.0
      val t0 = System.nanoTime()
      val threads = (0 until nt).map { t =>
        new Thread(() => {
          var s = 0L; var i = t * (n / nt)
          val end = if (t == nt - 1) n else (t + 1) * (n / nt)
          while (i < end) { s += arr(i); i += 1 }
          acc.addAndGet(s) // observed result defeats dead-code elimination
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val dt = (System.nanoTime() - t0) / 1e9
      if (acc.get == Long.MinValue) System.err.println("") // never true
      dt
    }
  }
}
