package perfbench

import java.nio.file.{Files, Paths}

/** Loads the classes that the benchmark JVMs load: a session, the kernel
  * ladder and one warm set-up round of every workload. build.py runs it once
  * per build with -XX:ArchiveClassesAtExit to dump the class archive. */
object Train {
  def main(argv: Array[String]): Unit = {
    val root = Paths.get(argv(argv.indexOf("--root") + 1)).toAbsolutePath
    Files.createDirectories(root)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, root)
    try {
      val off = new Tracer(false, spark.sparkContext)
      Kernels.run(1)
      Workload.names.foreach { name =>
        val checks = new LoopResult
        Workload(name, spark, 1, cores).setup(root.resolve(name), off, checks, warm = true)
        println(s"train: $name set-up checks=${checks.attempted} failed=${checks.failed}")
      }
    } finally spark.stop()
  }
}
