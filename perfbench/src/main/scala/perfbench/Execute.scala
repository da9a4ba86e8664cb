package perfbench

import graft.eval.Evaluation
import graft.operators.Snapshots
import graft.runner.Runner
import graft.sources.InstanceSource.InstanceRef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** Runner's auto-dispatch decision with the inputs it was made from.
  * `maxRowsPerInstance` is None where Runner decides without counting. */
final case class Dispatch(algorithm: String, instances: Int,
    maxRowsPerInstance: Option[Long], threshold: Long, mode: String)

/** The two ways a request reaches the program. `entryPoints` calls Runner's
  * public entry points, as `Runner.main` does, and is the timed path.
  * `layered` makes the same calls one layer at a time inside trace spans,
  * which also exposes the predictions. */
object Execute {

  /** `Runner.main`'s auto dispatch for a run over `refs`, including its
    * short cuts that skip the largest-instance count job. */
  def dispatch(spark: SparkSession, req: Request): Dispatch = {
    val threshold = Runner.BatchCrossoverByAlgo.getOrElse(req.algorithm, Runner.BatchCrossoverRows)
    val n = req.refs.size
    if (req.algorithm == "rev_rec_adtributor" || n <= 1)
      Dispatch(req.algorithm, n, None, threshold, "sequential")
    else if (threshold == Long.MaxValue)
      Dispatch(req.algorithm, n, None, threshold, "batch")
    else {
      val maxRows = Runner.estimateMaxRowsPerInstance(spark, req.dataRoot, req.refs, None)
      Dispatch(req.algorithm, n, Some(maxRows), threshold, Runner.chooseMode(req.algorithm, maxRows, n))
    }
  }

  def entryPoints(spark: SparkSession, req: Request, d: Dispatch, nThreads: Int): Seq[Outcome] = {
    val results =
      if (d.mode == "batch") Runner.runBatch(spark, req.dataRoot, req.refs, req.algorithm, None)
      else if (req.refs.size == 1) Seq(Runner.runInstance(spark, req.dataRoot, req.refs.head, req.algorithm, None))
      else Runner.runAll(spark, req.dataRoot, req.refs, req.algorithm, None, nThreads)
    results.map(r => Outcome(r.file, r.tp, r.fp, r.fn, None))
  }

  private final case class Loaded(ref: InstanceRef, key: String, df: DataFrame, label: String,
      attrs: Seq[String], derived: Boolean)

  private def load(t: Tracer, id: Int, parent: Option[Int], spark: SparkSession,
      req: Request, ref: InstanceRef): Loaded = t.span("sources.load", id, parent) {
    val (df, label, derived) = Runner.loadInstance(spark, req.dataRoot, ref, None)
    Loaded(ref, s"${ref.dataset}/${ref.folder}/${ref.file}", df, label, Snapshots.attributes(df), derived)
  }

  private def score(file: String, predictions: Seq[String], label: String): Outcome = {
    val s = Evaluation.score(predictions, label)
    Outcome(file, s.tp, s.fp, s.fn, Some(predictions))
  }

  /** `Runner.runInstance` one layer at a time. */
  def sequential(t: Tracer, id: Int, parent: Option[Int], spark: SparkSession,
      req: Request, ref: InstanceRef): Outcome = {
    val l = load(t, id, parent, spark, req, ref)
    val preds = t.span(s"algorithms.${req.algorithm}", id, parent)(
      Runner.runAlgorithm(l.df, l.attrs, req.algorithm, l.derived, Map.empty))
    t.span("eval.score", id, parent)(score(ref.file, preds, l.label))
  }

  def layered(t: Tracer, id: Int, spark: SparkSession, req: Request, d: Dispatch,
      nThreads: Int): Seq[Outcome] = {
    val parent = t.current
    if (d.mode == "batch") {
      // Runner.runBatch: load every instance, one union + localCheckpoint
      // per (dataset, folder, attributes, derived) group, one Batch* DAG
      val loaded = req.refs.map(load(t, id, parent, spark, req, _))
      loaded.groupBy(l => (l.ref.dataset, l.ref.folder, l.attrs, l.derived)).toSeq
        .flatMap { case ((_, _, attrs, derived), group) =>
          val union = t.span("runner.materialize", id)(
            group.map(l => l.df.withColumn("instance_id", lit(l.key)))
              .reduce(_ unionByName _).localCheckpoint(true))
          val preds = t.span(s"algorithms.${req.algorithm}", id)(
            Runner.runBatchAlgorithm(union, attrs, req.algorithm, derived, Map.empty))
          t.span("eval.score", id)(group.map(l =>
            score(l.ref.file, preds.getOrElse(l.key, Seq.empty), l.label)))
        }
    } else if (req.refs.size == 1) Seq(sequential(t, id, parent, spark, req, req.refs.head))
    else {
      // Runner.runAll: every instance concurrently on nThreads threads
      val pool = Executors.newFixedThreadPool(nThreads)
      try pool.invokeAll(req.refs.map(ref => new Callable[Outcome] {
        def call(): Outcome = sequential(t, id, parent, spark, req, ref)
      }).asJava).asScala.map(_.get()).toSeq
      finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    }
  }
}
