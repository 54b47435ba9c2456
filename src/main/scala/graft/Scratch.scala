package graft

import java.io.File
import java.nio.file.{Files, Paths}

/** The one lifecycle for files the program writes for itself (drain
  * checkpoints, fixture tables, round-trip copies, replay stores).
  * [[withDir]] hands its body a fresh directory and deletes it when
  * the body returns or throws, so no call reads another call's files
  * and every repeat does its full work. A body whose result reads the
  * directory materializes the rows (`localCheckpoint()`) before it
  * returns; a final `orderBy` stays outside.
  *
  * The directories sit under one root per JVM, on tmpfs (/dev/shm)
  * when writable; the shutdown hook removes what an interrupted body
  * left. Entry points whose files must outlive a call
  * (AlertaStreamMain's sinks and checkpoints) take caller-supplied
  * paths.
  */
object Scratch {

  lazy val root: File = {
    val shm = new File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = Files.createTempDirectory(base, "graft_scratch_").toFile
    sys.addShutdownHook { delete(dir) }
    dir
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong

  def withDir[T](prefix: String)(body: File => T): T = {
    val dir = new File(root, s"${prefix}_${seq.incrementAndGet()}")
    if (!dir.mkdir()) throw new java.io.IOException(s"cannot create $dir")
    try body(dir) finally delete(dir)
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
