package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-directory root for query-local fixtures, sinks, and
  * checkpoints (the `target/graft_io` tree). Derived from the
  * `SPARK_GRAFT_SCRATCH` env var (the Bench `SPARK_GRAFT_BENCH_OUT`
  * pattern) so the repo location is not baked into the code; the
  * default is `target/graft_io` under the working directory.
  *
  * Local-mode assumption, stated once: several fixtures write blobs or
  * sliced source files to this root from executor code (q95's
  * foreachPartition) or read it back as a streaming source — correct
  * under `local[*]` where driver and executors share a filesystem. On a
  * real cluster the root must point at shared storage (the env var),
  * exactly like any checkpoint location.
  */
object Scratch {
  val root: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      Paths.get(sys.props("user.dir"), "target", "graft_io").toString)

  /** `root`/`name` as a String path (convenience for query bodies). */
  def dir(name: String): String = s"$root/$name"

  /** The one freshness policy for persisted fixture-derived state (a
    * store whose input is the fixture `table` under `dir`): runs
    * `build` unless the marker `root`/`name`_marker holds this
    * fixture's stamp — the source dir plus [[fingerprint]] of the
    * table, so a fixture regenerated in place (same path, new bytes)
    * forces a rebuild instead of a stale-state red row — and `present`
    * holds (catalog-table stores pass their `tableExists` check: a
    * session without the catalog entry re-registers). The marker is
    * deleted BEFORE `build` starts: a rebuild that fails after an
    * overwrite has already removed the old output must not leave the
    * previous fixture's marker vouching for a torn store. A marker torn
    * by a crash mid-write never equals a stamp, so a plain write is
    * enough. Reuse costs one fingerprint walk and one marker read. */
  def stamped(name: String, dir: String, table: String,
              present: Boolean = true)(build: => Unit): Unit =
    stampedValue(name, dir, table, present) { build; "" }

  /** [[stamped]] for a build with a small string result (a stream
    * source's event-time bounds): the marker keeps the result AHEAD of
    * the stamp, so a marker torn mid-write still never ends with a
    * stamp, and a reuse returns the kept result without running
    * `build`. */
  def stampedValue(name: String, dir: String, table: String,
                   present: Boolean = true)(build: => String): String = {
    val marker = Paths.get(s"$root/${name}_marker")
    val stamp = "\n" + dir + "\n" + fingerprint(s"$dir/$table.parquet")
    val held =
      if (present && Files.exists(marker)) new String(Files.readAllBytes(marker), "UTF-8")
      else ""
    if (held.endsWith(stamp)) held.dropRight(stamp.length)
    else {
      Files.deleteIfExists(marker)
      val value = build
      Files.createDirectories(marker.getParent)
      Files.write(marker, (value + stamp).getBytes("UTF-8"))
      value
    }
  }

  /** [[stamped]] parquet materialization at `root`/`name`: build `mk`
    * once per fixture generation of `table`, read it back from parquet.
    * Consumers share the dominating build cost (typically a similarity
    * join) instead of re-running it per declared query. */
  def stampedStore(s: SparkSession, dir: String, name: String,
                   table: String)(mk: => DataFrame): DataFrame = {
    val out = s"$root/$name"
    stamped(name, dir, table)(mk.write.mode("overwrite").parquet(out))
    // The session's FileStatusCache may hold a listing of the store
    // path from BEFORE a rewrite (its own, or a sibling process's in a
    // dev loop) — a stale listing fails the scan with FileNotFound on
    // the overwritten part files. Drop any cached listing before the
    // read; O(1) driver metadata, never data work.
    s.catalog.refreshByPath(out)
    s.read.parquet(out)
  }

  /** Cheap content fingerprint of a local file tree: every regular
    * file's (relative name, size, mtime) PLUS the first, middle and
    * last 64 bytes of its content, and the overall file count, folded
    * into one string. Used by [[stamped]]'s fixture markers so that
    * REGENERATING an input table in place — same path, new bytes —
    * invalidates the persisted derived state instead of silently
    * reusing it (a stale store would still fail the oracle, but as a
    * confusing engine-bug-shaped red row rather than a rebuild). The
    * content samples defeat metadata-preserving rewrites (cp -p,
    * rsync -t, a deterministic writer landing within mtime
    * granularity): for parquet the last bytes cover the footer, whose
    * row-group offsets and statistics shift under any content change;
    * the middle sample (ScratchSpec r9) additionally catches an
    * in-place payload edit that leaves both ends intact. Still
    * O(files) driver-side control flow with O(1) bytes read per
    * file — the same class as a checkpoint-directory existence
    * probe. */
  def fingerprint(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) "absent"
    else {
      val s = Files.walk(p)
      try {
        val it = s.filter(Files.isRegularFile(_)).sorted().iterator()
        var h = 1125899906842597L // large prime; stable across JVMs
        var nFiles = 0L
        def fold(bytes: Array[Byte], n: Int): Unit = {
          var i = 0
          while (i < n) { h = 31 * h + bytes(i); i += 1 }
        }
        while (it.hasNext) {
          val f = it.next()
          nFiles += 1
          val size = Files.size(f)
          val line = s"${p.relativize(f)}:$size:" +
            s"${Files.getLastModifiedTime(f).toMillis}:"
          for (c <- line) h = 31 * h + c
          val ch = Files.newByteChannel(f)
          try {
            val buf = java.nio.ByteBuffer.allocate(64)
            val nHead = ch.read(buf)
            if (nHead > 0) fold(buf.array(), nHead)
            if (size > 128) {
              buf.clear()
              ch.position(size / 2 - 32)
              val nMid = ch.read(buf)
              if (nMid > 0) fold(buf.array(), nMid)
            }
            if (size > 64) {
              buf.clear()
              ch.position(math.max(0L, size - 64))
              val nTail = ch.read(buf)
              if (nTail > 0) fold(buf.array(), nTail)
            }
          } finally ch.close()
        }
        h = 31 * h + nFiles
        java.lang.Long.toHexString(h)
      } finally s.close()
    }
  }
}
