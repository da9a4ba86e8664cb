package perfbench

import graft.gen.ReferenceCorpus
import graft.sources.InstanceSource
import graft.sources.InstanceSource.InstanceRef

import java.io.File
import scala.util.Random

/** One Runner invocation: one algorithm over one snapshot or one corpus. */
final case class Request(algorithm: String, dataRoot: String, refs: Seq[InstanceRef])

/** A set of inputs the benchmark runs. The seed only orders requests and
  * instances: the inputs themselves are fixed, so that every run is checked
  * against recorded predictions and its F1 is comparable across seeds. */
trait Workload {
  def name: String
  def algorithms: Seq[String]
  /** Writes the generated inputs; returns the rows written. */
  def writeInputs(): Long
  /** Untimed requests, run `warmupPasses` times. */
  def warmup: Seq[Request]
  def warmupPasses: Int
  /** A steady round's wall on a 4-vCPU box; `--seconds` buys
    * seconds / roundSeconds rounds, the same work on every commit. */
  def roundSeconds: Double
  /** One round: the same multiset of requests every time, in seeded order. */
  def round(rng: Random): Seq[Request]
  /** Every (algorithm, file) a timed request can touch. */
  def timedKeys: Seq[(String, String)]
  /** Files holding the expected outcome of every timed (algorithm, file). */
  def expectedFiles: Seq[String]
  lazy val expected: Expected.Table = expectedFiles.map(Expected.load).reduce(_ ++ _)
}

object Workloads {
  val Names: Seq[String] = Seq("snapshot_latency", "corpus_s")

  /** The committed generator corpus' shape (src/test/resources/gen_corpus). */
  val GenCorpusDims: Seq[(String, Int)] = Seq("a" -> 6, "b" -> 5, "c" -> 4, "d" -> 3)
  /** The paper's S shape: 48,000 leaves over 5 attributes. */
  val SDims: Seq[(String, Int)] = Seq("a" -> 10, "b" -> 12, "c" -> 10, "d" -> 8, "e" -> 5)

  val CorpusSeed = 11L
  val WarmupSeed = 10004L

  def apply(name: String, work: String): Workload = name match {
    case "snapshot_latency" => new SnapshotLatency(work)
    case "corpus_s" => new CorpusS(work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  private def write(dims: Seq[(String, Int)], files: Int, seed: Long, dir: String): Long = {
    deleteTree(new File(dir))
    ReferenceCorpus.writeCorpus(ReferenceCorpus.Config(dims, files, seed), dir).size.toLong *
      dims.map(_._2).product
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Closed loop, one client: each request is one snapshot of the committed
    * generator corpus (360 leaves) localized by one algorithm. Six
    * algorithms are checked against the reference's goldens, the
    * seventh against recorded predictions. */
  final class SnapshotLatency(work: String) extends Workload {
    val name = "snapshot_latency"
    val algorithms: Seq[String] = Seq("adtributor", "autoroot", "hotspot",
      "rev_rec_adtributor", "riskloc", "robustspot", "squeeze")
    private val root = "src/test/resources"
    private val warmRoot = s"$work/data"
    private lazy val files: IndexedSeq[InstanceRef] =
      InstanceSource.instances(root, "gen_corpus").sortBy(_.file).toIndexedSeq
    /** Each algorithm gets its own file: a round of seven requests. */
    private def fileOf(i: Int): InstanceRef = files(i % files.size)

    def writeInputs(): Long = write(GenCorpusDims, 1, WarmupSeed, s"$warmRoot/warmup")
    /** With one pass the first timed rounds run 20-50% slow while the JIT
      * catches up; two concurrent passes take about 35 s. */
    val warmupPasses = 2
    val roundSeconds = 10.0
    def warmup: Seq[Request] = {
      val refs = InstanceSource.instances(warmRoot, "warmup")
      algorithms.map(a => Request(a, warmRoot, refs))
    }
    def round(rng: Random): Seq[Request] = rng.shuffle(
      algorithms.zipWithIndex.map { case (a, i) => Request(a, root, Seq(fileOf(i))) })
    def timedKeys: Seq[(String, String)] =
      algorithms.zipWithIndex.map { case (a, i) => (a, fileOf(i).file) }
    def expectedFiles: Seq[String] = Seq(
      "src/test/resources/fixtures/gen_corpus_golden.tsv", "perfbench/expected/snapshot_latency.tsv")
  }

  /** RiskLoc over a generated two-instance S-shape corpus through Runner's
    * auto dispatch (batch at this shape). Two warm-up requests over the
    * same corpus bring BatchRiskLoc close to steady state; a smaller
    * warm-up corpus makes it search more layers and costs more. The generator
    * seed gives a corpus on which RiskLoc finds the anomalies, so F1 is
    * not 0. */
  final class CorpusS(work: String) extends Workload {
    val name = "corpus_s"
    val algorithms: Seq[String] = Seq("riskloc")
    private val root = s"$work/data"
    private def refs(dir: String) = InstanceSource.instances(root, dir).sortBy(_.file)

    def writeInputs(): Long = write(SDims, 2, CorpusSeed, s"$root/corpus_s")
    def warmup: Seq[Request] = algorithms.map(a => Request(a, root, refs("corpus_s")))
    val warmupPasses = 2
    val roundSeconds = 7.0
    def round(rng: Random): Seq[Request] =
      rng.shuffle(algorithms).map(a => Request(a, root, rng.shuffle(refs("corpus_s"))))
    def timedKeys: Seq[(String, String)] =
      for (a <- algorithms; r <- refs("corpus_s")) yield (a, r.file)
    def expectedFiles: Seq[String] = Seq("perfbench/expected/corpus_s.tsv")
  }
}
