package graft.io

import java.util.concurrent.{Callable, Executors}

/** Bounded driver-side parallelism for filesystem metadata passes (the
  * per-episode existence checks, zero-row files and deletions). Hadoop
  * `FileSystem` handles are thread-safe, so a pool turns an O(#episodes)
  * serial RPC chain into O(#episodes / pool).
  */
object ParallelFs {
  def mapParallel[A, B](items: Seq[A], parallelism: Int = 32)(f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(parallelism, items.size))
      try {
        val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        futures.map { fut =>
          try fut.get()
          catch {
            // surface the worker's own exception, not the ExecutionException
            // wrapper, and stop queued work before unwinding
            case e: java.util.concurrent.ExecutionException =>
              pool.shutdownNow()
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } finally pool.shutdown()
    }
  }
}
