package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Tiny shared filesystem helpers (local-FS scope — table pointers, test
  * fixtures, model exports; production sinks talk to object stores
  * instead). */
object Fs {

  /** Delete a file tree, deepest first; missing paths are a no-op. */
  def deleteRecursively(root: Path): Unit = {
    if (!Files.exists(root)) return
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Atomically point `pointer` at `value`: write a dotted sibling tmp
    * file, then ATOMIC_MOVE it over the pointer, so a reader sees either
    * the old or the new value, never a torn one. The leading dot keeps a
    * crash-orphaned tmp out of [[readPointers]]. Concurrent writers of the
    * same pointer must serialize themselves (they share the tmp name). */
  def writePointer(pointer: Path, value: String): Unit = {
    if (pointer.getParent != null) Files.createDirectories(pointer.getParent)
    val tmp = pointer.resolveSibling("." + pointer.getFileName.toString + ".tmp")
    Files.writeString(tmp, value)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `target` once: if it exists, return it untouched; otherwise
    * `write` fills a process-unique dotted sibling (a file or a directory)
    * that is then moved onto `target`, so existence is the only completion
    * mark. The move never replaces a target — `rename(2)` (`ATOMIC_MOVE`)
    * silently REPLACES an existing file or empty directory — so a file is
    * published by a no-replace hard link and a directory by a rename that
    * fails on a non-empty target. A race's loser deletes its sibling and
    * returns the winner's target; a `write` that throws leaves neither. A
    * crash-orphaned sibling keeps its dot: Spark listings and
    * [[reapStaleSiblings]] never see it. */
  def publishOnce(target: Path)(write: Path => Unit): Path = {
    if (Files.exists(target)) return target
    Files.createDirectories(target.toAbsolutePath.getParent)
    val stage = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.stage")
    try {
      write(stage)
      if (Files.isDirectory(stage))
        try Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if Files.exists(target) => deleteRecursively(stage) }
      else {
        try Files.createLink(target, stage)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        Files.delete(stage)
      }
    } catch { case e: Throwable => deleteRecursively(stage); throw e }
    target
  }

  /** Every pointer file [[writePointer]] left in `dir`, by name, with the
    * id it holds (dotted tmp names skipped; a missing dir is empty). */
  def readPointers(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString -> Files.readString(p).trim.toLong)
        .toMap
      finally st.close()
    }

  /** Root of a `/tmp` fixture cache:
    * `<tmpdir>/graft_<kind>_<key>_<fingerprint of source>`. The
    * fingerprint invalidates the cache whenever `source` is regenerated;
    * the key (sanitized to `[a-zA-Z0-9_]`) keeps caches of different inputs
    * apart, so reaping the stale fingerprints of this (kind, key) — done
    * here — never touches another input's live cache. Not created. */
  def fixtureRoot(kind: String, key: String, source: Path): Path = {
    val prefix = s"graft_${kind}_${key.replaceAll("[^a-zA-Z0-9]", "_")}_"
    val root = Paths.get(System.getProperty("java.io.tmpdir"), prefix + listingFingerprint(source))
    reapStaleSiblings(root, prefix)
    root
  }

  /** /tmp hygiene for fingerprint-keyed caches: delete sibling directories
    * of `keep` that share `prefix` but carry a STALE fingerprint (the data
    * they were staged from has been regenerated, so nothing will ever read
    * them again). Bounds the tmp footprint of repeated Verify/Bench runs to
    * one live dir per cache. Racing sessions only ever delete dirs no
    * fingerprint-matching reader can reference; a concurrent deletion of
    * the same stale dir is harmless (deleteIfExists). */
  def reapStaleSiblings(keep: Path, prefix: String): Unit = {
    val parent = keep.getParent
    if (parent == null || !Files.exists(parent)) return
    val ls = Files.list(parent)
    try {
      ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          // ONLY names of the exact cache shape `<prefix><hex fingerprint>`
          // are reapable: a looser match could also delete a concurrent
          // session's live staging sibling mid-write ([[publishOnce]]'s
          // `.<prefix><fp>.<uuid>.stage` does not even share the prefix)
          n.startsWith(prefix) && n != keep.getFileName.toString &&
            n.stripPrefix(prefix).matches("[0-9a-f]{1,16}")
        }
        .toSeq // materialize before deleting (stream over a mutating dir)
        .foreach(p => try deleteRecursively(p) catch { case _: java.io.IOException => () })
    } finally ls.close()
  }

  /** Cheap content fingerprint of a directory or file: 64-bit FNV over the
    * sorted (relative-name, size, mtime) listing — changes whenever the
    * underlying data files are regenerated, without reading their bytes. */
  def listingFingerprint(root: Path): String = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    }
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try {
        walk.iterator().asScala.toSeq
          .filter(Files.isRegularFile(_))
          .map(p => (root.relativize(p).toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          .sortBy(_._1)
          .foreach { case (n, s, m) => mix(n); mix(s.toString); mix(m.toString) }
      } finally walk.close()
    }
    java.lang.Long.toHexString(h)
  }
}
