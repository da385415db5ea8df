package graft.engine

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder for the repo's mains and tests. */
object Session {

  /** Local session on `cores` threads (shuffle partitions = `cores`, AQE
    * on, UTC, no UI) whose shuffle scratch is `Scratch.localDir(tag)`.
    * An active session is returned as is, with the runtime SQL settings
    * above set on it again. */
  def local(cores: Int, tag: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-$tag")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // JVM case mapping for lower()/upper(): the ICU path pays a
      // multi-minute CollationAwareUTF8String static init per JVM under
      // thread contention (observed: 32 executor threads parked on the
      // class-init monitor) — unacceptable startup tax at any scale.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // Disable RPC-backed session-artifact classloader: janino codegen
      // class-resolution misses otherwise round-trip the driver file
      // server per identifier (observed 40s+ stage compiles).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Shuffle scratch on tmpfs + single-file-per-mapper sort writer:
      // the bypass-merge writer creates maps*reducers tiny files whose
      // open/mmap latency on the virtio disk dominated small shuffles
      // (observed 5s-41s variance on identical jobs). Per-process subdir
      // so a killed JVM's leak is reapable (Scratch.cleanupOrphans, and
      // Scratch.childDir for a parent that killed its child) — round 3
      // left 5.8 GiB of dead blockmgr dirs resident in tmpfs.
      .config("spark.local.dir", Scratch.localDir(tag))
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .config("spark.io.compression.codec", "lz4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
