package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Build-once memo of per-dir artifacts: the one way this engine keeps
 * something a later query reuses. The contract:
 *
 *  - A frame artifact is stored as its snapshot's path plus reader schema
 *    ([[Memo.Frame]]), never as a DataFrame: a DataFrame is bound to the
 *    session that planned it. [[Memo.FrameOps.frame]] re-reads the path
 *    in the CALLER's session with the stored schema, which starts no Spark
 *    job. Values that are not frames (a schema, a scalar, a session clone)
 *    are stored as they are. The single frame artifact kept as a value is
 *    `ErQueries.cleaned`, whose CleanedBlocks holds seven frames.
 *  - Builds run outside any lock. Each key holds a completion cell: the
 *    first caller builds, concurrent callers wait on the cell, so a key is
 *    built once and builds of distinct keys never serialize on a hash bin.
 *  - A builder may request other keys of this or any other memo, but never
 *    its own key: it would wait forever on its own unfinished cell.
 *  - A failed build removes its cell and its error reaches every waiting
 *    caller; the next call builds again.
 */
final class Memo[K, V] {
  private val cells = new ConcurrentHashMap[K, CompletableFuture[V]]

  def apply(key: K)(build: => V): V = {
    val fresh = new CompletableFuture[V]
    val prior = cells.putIfAbsent(key, fresh)
    if (prior != null)
      try prior.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    else {
      val v =
        try build
        catch {
          case e: Throwable =>
            cells.remove(key, fresh); fresh.completeExceptionally(e); throw e
        }
      fresh.complete(v)
      v
    }
  }
}

object Memo {
  /** A stored frame artifact: the snapshot path and its reader schema. */
  type Frame = (String, StructType)

  implicit final class FrameOps[K](private val m: Memo[K, Frame]) extends AnyVal {
    /** The artifact `key` as a frame of session `s`; the first call
     * snapshots `build` (see [[Snapshot.materialize]]). */
    def frame(s: SparkSession, key: K)(build: => DataFrame): DataFrame = {
      val (path, schema) = m(key) {
        val (p, reader) = Snapshot.materialize(build)
        (p, reader.schema)
      }
      s.read.schema(schema).parquet(path)
    }
  }
}
