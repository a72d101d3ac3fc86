package graft

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Pointer, meta and lock discipline shared by the four persistent
  * state families — the cluster state of [[graft.operators.Dedup]], the
  * token state of [[graft.operators.TextAnalysis]], the semantic state
  * of [[graft.operators.Similarity]] and the media state of
  * [[graft.operators.Multimodal]] — all through [[VersionedState]].
  *
  * Pointer writes are ATOMIC: the content lands in a temp file first
  * and renames over `_LATEST` with `ATOMIC_MOVE`, so a reader racing
  * the write (or a crash mid-write) sees either the previous pointer or
  * the new one, never a torn/empty file — the "pointer flips LAST"
  * crash contract holds at the filesystem level, not just in commit
  * order. (A plain truncate-in-place `Files.write` had a window where
  * a concurrent read observed zero bytes.)
  *
  * Writer access is SINGLE-WRITER, enforced: any two processes that
  * sync one state dir (two `Curate --state` runs, say) would, updating
  * concurrently, both read the same pointer, compute the same next
  * version, and overwrite each other's delta — silently losing one
  * batch's merges. [[withWriterLock]] takes an OS-level exclusive
  * lock on `_WRITER_LOCK` for the whole read-pointer → write-delta →
  * flip critical section and FAILS LOUDLY on contention (no blocking,
  * no torn state). The lock is advisory-exclusive via `FileChannel
  * .tryLock`, so a crashed writer's lock dies with its process — no
  * stale-lockfile recovery protocol needed. Readers never lock: they
  * resolve through the atomically-flipped pointer.
  */
private[graft] object StateFiles {

  private def pointerPath(dir: String): Path = Paths.get(dir, "_LATEST")

  def hasPointer(dir: String): Boolean = Files.exists(pointerPath(dir))

  /** `(latest, base)` from the pointer file; `(0, 0)` when absent. A
    * legacy one-field pointer predates compaction: every version from 1
    * is live.
    */
  def readPointer(dir: String): (Int, Int) = {
    val p = pointerPath(dir)
    if (!Files.exists(p)) return (0, 0)
    val parts = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .trim.split("\\s+")
    (parts(0).toInt, if (parts.length > 1) parts(1).toInt else 1)
  }

  /** Atomically publish `"<latest> <base>"`: temp file + ATOMIC_MOVE. */
  def writePointer(dir: String, latest: Int, base: Int): Unit =
    writeMeta(dir, "_LATEST", s"$latest $base")

  /** Atomically publish a small metadata file (format marker, pinned
    * parameters): temp file + ATOMIC_MOVE, the pointer discipline.
    */
  def writeMeta(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Files.createTempFile(Paths.get(dir), s".$name", ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readMeta(dir: String, name: String): Option[String] = {
    val p = Paths.get(dir, name)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  /** Fail LOUDLY when an initialized state dir (its pointer exists)
    * does not carry the expected format/parameter stamp — a legacy
    * layout or a sync under different knobs would otherwise surface as
    * an opaque parquet path error (or worse, silently mix verdict
    * generations). A dir with no pointer passes: it is the empty
    * store, and the first sync's commit stamps it.
    */
  def requireMeta(dir: String, name: String, expected: String): Unit = {
    if (!hasPointer(dir)) return
    readMeta(dir, name) match {
      case Some(`expected`) => ()
      case Some(other) => throw new IllegalStateException(
        s"state dir $dir was initialized with '$other' but this " +
          s"sync passed '$expected' — mixing generations would silently " +
          "corrupt the state; re-init (or pass the original values)")
      case None => throw new IllegalStateException(
        s"state dir $dir has a pointer but no $name stamp: this is " +
          "a legacy (pre-versioned) layout this code cannot fold into — " +
          "re-init the state dir from the current corpus")
    }
  }

  /** Run `f` holding the exclusive writer lock of `dir`; throw
    * `IllegalStateException` immediately if another writer (this JVM
    * or any other process) holds it. The lock FILE persists (deleting
    * it would race a fresh locker on some platforms); the LOCK itself
    * is released on return and dies with the process on a crash.
    */
  def withWriterLock[A](dir: String)(f: => A): A = {
    Files.createDirectories(Paths.get(dir))
    val ch = FileChannel.open(Paths.get(dir, "_WRITER_LOCK"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val lock =
        try ch.tryLock()
        catch { case _: OverlappingFileLockException => null }
      if (lock == null)
        throw new IllegalStateException(
          s"state dir $dir is locked by another writer: the cluster/token " +
            "state admits ONE writer at a time (stop the streaming sync " +
            "before a batch Curate run on the same --state dir, or vice versa)")
      try f
      finally lock.release()
    } finally ch.close()
  }
}
