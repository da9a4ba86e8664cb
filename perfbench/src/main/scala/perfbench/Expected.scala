package perfbench

import graft.eval.Evaluation
import graft.model.Labels

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The expected result of one (algorithm, instance file) localization:
  * canonical predictions and their set-match counts against the label. */
final case class Expected(label: String, predictions: Seq[String], tp: Int, fp: Int, fn: Int)

/** What a request returned for one instance. The Runner entry points return
  * scores only, so `predictions` is known only on the traced path, which
  * calls the layers one by one. */
final case class Outcome(file: String, tp: Int, fp: Int, fn: Int, predictions: Option[Seq[String]])

object Expected {

  type Table = Map[(String, String), Expected]

  /** Golden-format TSV, one line per (algorithm, file): algorithm, file,
    * label, predictions joined by '|', tp, fp, fn, f1. */
  def load(path: String): Table =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map { line =>
        val f = line.split("\t", -1)
        require(f.length >= 7, s"$path: malformed line '$line'")
        val preds = if (f(3).isEmpty) Seq.empty[String] else f(3).split('|').toSeq
        (f(0), f(1)) -> Expected(f(2), preds, f(4).toInt, f(5).toInt, f(6).toInt)
      }.toMap

  def write(path: String, rows: Seq[((String, String), Expected)]): Unit = {
    val lines = rows.sortBy(_._1).map { case ((algo, file), e) =>
      val f1 = Evaluation.Score(e.tp, e.fp, e.fn).f1
      Seq(algo, file, e.label, e.predictions.sorted.mkString("|"),
        e.tp, e.fp, e.fn, f1).mkString("\t")
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }

  /** The expected record of a localization the program just made. */
  def of(label: String, predictions: Seq[String]): Expected = {
    val s = Evaluation.score(predictions, label)
    Expected(label, Labels.canonicalPredictions(predictions).sorted, s.tp, s.fp, s.fn)
  }

  /** None when `got` holds exactly one outcome per requested file and each
    * matches its expected record; otherwise the first discrepancy. A file
    * with no outcome is a missing prediction. */
  def check(table: Table, algorithm: String, files: Seq[String],
      got: Seq[Outcome]): Option[String] = {
    val byFile = got.groupBy(_.file)
    val extra = byFile.keySet -- files
    if (extra.nonEmpty) return Some(s"$algorithm: outcomes for unrequested files ${extra.mkString(",")}")
    files.iterator.map { file =>
      val outs = byFile.getOrElse(file, Seq.empty)
      table.get((algorithm, file)) match {
        case None => Some(s"$algorithm/$file: no expected outcome recorded")
        case _ if outs.isEmpty => Some(s"$algorithm/$file: missing prediction")
        case _ if outs.size > 1 => Some(s"$algorithm/$file: ${outs.size} outcomes")
        case Some(e) =>
          val o = outs.head
          if ((o.tp, o.fp, o.fn) != ((e.tp, e.fp, e.fn)))
            Some(s"$algorithm/$file: scores (${o.tp},${o.fp},${o.fn}) != expected (${e.tp},${e.fp},${e.fn})")
          else o.predictions.collect {
            case p if Labels.canonicalPredictions(p).sorted != e.predictions.sorted =>
              s"$algorithm/$file: predictions ${p.mkString("|")} != expected ${e.predictions.mkString("|")}"
          }
      }
    }.collectFirst { case Some(msg) => msg }
  }
}
