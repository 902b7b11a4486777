package graft.format

/** Bounded-parallel driver-side metadata mapping (guide §5/§6): per-file
  * parquet-footer reads are independent, latency-bound operations — a
  * serial loop over them serializes the driver on file count, which at
  * 100 TB bucket/partition counts (thousands of part files) becomes the
  * bottleneck of an otherwise metadata-only step. Runs `f` over `xs` on
  * at most `threads` threads, preserving input order. Fails fast: the
  * first item to fail cancels the rest (running ones are interrupted,
  * queued ones never start) and its own exception is rethrown (not the
  * ExecutionException wrapper). Sequential below 4 items — pool setup
  * outweighs the win there. */
private[graft] object DriverPar {
  def parMap[A, B](xs: Seq[A], threads: Int = 8, minPar: Int = 4)(
      f: A => B): Seq[B] =
    if (xs.size < minPar) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, xs.size))
      try {
        // results arrive in completion order, so the first failure is
        // seen as soon as it happens, not after the items queued before it
        val done = new java.util.concurrent.ExecutorCompletionService[(Int, B)](pool)
        xs.zipWithIndex.foreach { case (x, i) =>
          done.submit(new java.util.concurrent.Callable[(Int, B)] {
            def call(): (Int, B) = (i, f(x))
          })
        }
        val out = new Array[Any](xs.size)
        xs.indices.foreach { _ =>
          val (i, b) =
            try done.take().get()
            catch {
              case e: java.util.concurrent.ExecutionException => throw e.getCause
            }
          out(i) = b
        }
        out.toSeq.asInstanceOf[Seq[B]]
      } finally pool.shutdownNow()
    }
}
