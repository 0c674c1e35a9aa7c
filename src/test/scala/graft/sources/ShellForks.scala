package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** Processes Hadoop's `Shell` starts while a body runs, recorded
  * in-process by JFR (`jdk.ProcessStart` with stack traces). Every
  * Hadoop fork (chmod, readlink, ls, ...) goes through
  * `org.apache.hadoop.util.Shell`, so a non-empty result names a fork
  * the local filesystem should have served in-process. */
object ShellForks {
  private val ShellClass = "org.apache.hadoop.util.Shell"

  /** The recorded commands whose stack passes through Hadoop's Shell. */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("shell_forks_", ".jfr")
    try {
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && viaShell(e))
        .map(_.getString("command")))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  private def viaShell(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith(ShellClass)))
}
