package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.Serialization

/** Wall-clock epoch milliseconds with sub-millisecond resolution, on
  * the same scale as Spark's listener event times and file mtimes.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Command line of the JVM side, passed by run.py. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    runDir: String,
    cpus: Int,
) {
  def dir(name: String): String = {
    val p = Paths.get(runDir, name)
    Files.createDirectories(p)
    p.toString
  }
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toInt,
      trace = kv("trace") == "1",
      runDir = kv("run-dir"),
      cpus = kv("cpus").toInt,
    )
  }
}

/** Writes the result and trace files (json4s, as the library does). */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def writeFile(path: String, v: Any): Unit = {
    val p: Path = Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    val text = Serialization.write(Extraction.decompose(v))
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Driver heap for `heap_peak_mb`: at fixed checkpoints of a run (end
  * of set-up, end of the timed phase) a full collection runs and the
  * old generation's occupancy after it is sampled; the peak over the
  * checkpoints is reported. After a full collection the old generation
  * holds every live object, so data the driver keeps (caches, pinned
  * plans, buffered state) shows, while the timing of young collections
  * does not.
  */
final class LiveHeap {
  private var peakBytes = 0L

  def sample(): Unit = {
    // the second collection also frees what Spark's ContextCleaner
    // released in reaction to the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => (p.getName.contains("Old Gen") || p.getName.contains("Tenured")) && p.getCollectionUsage != null)
      .foreach(p => peakBytes = math.max(peakBytes, p.getCollectionUsage.getUsed))
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}
