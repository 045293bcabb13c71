package graft

/** Per-JVM scratch-space manager for operators that materialize
  * intermediate artifacts (dedup indexes, Derby snapshots, format
  * round-trips). Two disciplines, both learned from the round-13
  * bench forensics (seven `Files.createTempDirectory` sites, none
  * cleaned — at bench time each gate runs 3x and the leaked parquet
  * indexes + Derby zips accumulated on the shared scratch disk until
  * the later blocks measured the disk, not the engine):
  *
  *  1. '''Fixed per-tag paths, wiped on reuse.''' `dir("dedup_incremental")`
  *     always resolves to the same location inside this JVM's scratch
  *     root; re-invoking the same gate wipes and reuses it instead of
  *     leaking a fresh sibling. A bench pass-3 invocation therefore
  *     holds exactly one copy of each gate's scratch, not three.
  *  2. '''Shutdown-hook cleanup of the whole root.''' The scratch
  *     root is deleted recursively when the JVM exits, so Verify,
  *     Bench, the soak harnesses, and every ScalaTest JVM leave the
  *     host disk as they found it.
  *
  * Callers that return LAZY plans over scratch artifacts (the gate
  * surfaces do — e.g. the incremental probe reads the index it just
  * wrote) get a LOUD failure mode under (1), by construction: each
  * `dir(tag)` call hands out a fresh generation-numbered path and
  * deletes the previous generation, so a stale plan still pointing at
  * gen N-1 throws FileNotFoundException at execution instead of
  * silently reading whatever gen N wrote to a shared fixed path
  * (ScratchSpec pins both properties). Disk still holds exactly one
  * generation per tag — the reuse-not-leak discipline is unchanged.
  */
object Scratch {

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  private val gens = scala.collection.mutable.Map.empty[String, Long]

  /** Scratch directory for `tag`: a NEW generation-numbered path on
    * every call, with the previous generation deleted (the
    * reuse-not-leak discipline — a bench pass-3 invocation holds one
    * copy of each gate's scratch, not three). Returning a fresh path
    * per call is the lazy-plan lifetime guard: a caller that held an
    * unmaterialized frame over the previous generation fails loudly
    * (missing files) instead of silently reading the re-invocation's
    * replacement data. Returns the absolute path as a string — every
    * call site feeds it to file-URI consumers (parquet writers, Derby
    * URLs).
    */
  def dir(tag: String): String = synchronized {
    val gen = gens.getOrElse(tag, 0L) + 1L
    gens(tag) = gen
    if (gen > 1L) deleteRecursively(root.resolve(s"$tag-gen${gen - 1}"))
    val d = root.resolve(s"$tag-gen$gen")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Wipe every tag under the root (between bench blocks — so the
    * soak10x and cluster12 measurements start from the disk state a
    * fresh JVM would see). The root itself survives for later tags.
    */
  def wipeAll(): Unit = synchronized {
    val r = root
    if (java.nio.file.Files.exists(r)) {
      val stream = java.nio.file.Files.list(r)
      try {
        stream.forEach(p => deleteRecursively(p))
      } finally stream.close()
    }
  }

  /** Bytes free on the filesystem holding the scratch root — sampled
    * into the bench artifact so a disk-pressure run is diagnosable
    * from the artifact alone.
    */
  def freeBytes(): Long = root.toFile.getUsableSpace

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val stream = java.nio.file.Files.walk(p)
      try {
        stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { q.toFile.delete(); () })
      } finally stream.close()
    }
}
