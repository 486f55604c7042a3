package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Counts the processes a piece of code starts. */
object Processes {

  /** The command lines of the processes this JVM starts while `f` runs, from
    * a flight recording of `jdk.ProcessStart`. A `true` process started at
    * the end of the recording shows that the recording sees processes; it is
    * required and left out of the result. */
  def processesOf[T](f: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    val file = Files.createTempFile("graft_processes", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try { val out = f; new ProcessBuilder("true").start().waitFor(); out } finally rec.stop()
      rec.dump(file)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
      val control = commands.lastIndexWhere(program(_) == "true")
      require(control >= 0, s"the recording missed a process: $commands")
      (out, commands.patch(control, Nil, 1))
    } finally { rec.close(); Files.delete(file) }
  }

  /** The file name of the program a command line runs. */
  def program(command: String): String = command.split(' ').head.split('/').last

  /** The commands among `commands` that run `name`. */
  def running(commands: Seq[String], name: String): Seq[String] = commands.filter(program(_) == name)
}
