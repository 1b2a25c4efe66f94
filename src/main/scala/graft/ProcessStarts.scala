package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the OS processes this JVM starts while a block runs. Hadoop's
  * local filesystem shells out (`ls -ld` to load permissions, `chmod` to
  * set them) when native Hadoop is absent; a read path that does so pays
  * a fork per file, which no Spark metric shows. An in-process JFR
  * recording of `jdk.ProcessStart` sees every such start.
  */
object ProcessStarts {
  /** `body`'s result and the command line of every process started
    * meanwhile, in start order. Objects dropped before the block are
    * cleaned up whenever a GC finds them, and some cleanups start a
    * process (a dropped Spark session's artifact dir is removed with
    * `rm -rf`), so they are collected first: GC, then a 200 ms spell with
    * no process start (at most 10 tries). */
  def during[T](body: => T): (T, Seq[String]) = {
    var tries = 0
    while (tries < 10 && { System.gc(); recorded(Thread.sleep(200))._2.nonEmpty })
      tries += 1
    recorded(body)
  }

  private def recorded[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val file = Files.createTempFile("graft_procs", ".jfr")
      try {
        rec.dump(file)
        // the dump holds every event the JVM recorded over the window,
        // those of any other recording included
        val cmds = RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .sortBy(_.getStartTime)
          .map(_.getString("command"))
        (out, cmds)
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }
}
