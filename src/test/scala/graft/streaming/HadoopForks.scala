package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Child processes Hadoop forks while a body runs. Without libhadoop,
  * Hadoop's stock local file system forks `chmod` per created file or
  * directory and `readlink` per FileContext rename, through
  * `org.apache.hadoop.util.Shell`; an in-process JFR recording of
  * `jdk.ProcessStart` with stack traces sees each one.
  */
object HadoopForks {

  /** `body`'s result and the command line of every process started from
    * a `Shell` frame while it ran.
    */
  def during[T](body: => T): (T, Seq[String]) = {
    // Shell's class init forks one setsid probe per JVM: pay it first
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val dump = Files.createTempFile("hadoop-forks", ".jfr")
    try {
      val result = body
      rec.stop()
      rec.dump(dump)
      val forks = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command")).toSeq
      (result, forks)
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }
}
