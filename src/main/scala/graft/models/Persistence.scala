package graft.models

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods._

/** Model persistence — the reference accepts a pre-trained model at
  * predict time (`auto_ts/__init__.py:953-956`, `load_model`). Every
  * model writes a params.json: coefficient arrays + bounded tail state for
  * the closed-form estimators (ARIMA/VAR/Prophet-like), whose whole fitted
  * state is a few hundred doubles, and the settings and forecast state of
  * the GBT models. Their trees go beside it: [[GbtModel]]'s in its own
  * compact file ([[GbtTrainer.Ensemble]]), [[GbtClassifyTs]]'s through
  * MLlib's writer, because MLlib trains it.
  *
  * Every params.json carries a `type` tag; [[ModelIO.load]] dispatches on
  * it, so a directory saved by any `ModelBuild.save` round-trips through
  * one entry point. All state written here is bounded (series are the
  * single-series contract, vocabularies are top-V capped), so save/load
  * never touches anything corpus-sized. */
private[models] object Persist {
  implicit val formats: Formats = DefaultFormats

  def writeJson(dir: String, j: JValue): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "params.json"), compact(render(j)))
  }

  def readJson(dir: String): JValue =
    parse(Files.readString(Paths.get(dir, "params.json")))

  def seriesJson(s: LocalSeries): JValue =
    ("ts" -> s.ts.toList) ~ ("y" -> s.y.toList) ~
      ("exog" -> s.exog.map(_.toList).toList)

  def seriesFrom(j: JValue): LocalSeries = LocalSeries(
    (j \ "ts").extract[Array[Long]],
    (j \ "y").extract[Array[Double]],
    (j \ "exog").extract[Array[Array[Double]]])

  def schemaJson(s: TsSchema): JValue =
    ("ts_col" -> s.tsCol) ~ ("target" -> s.target) ~ ("exog" -> s.exog.toList)

  def schemaFrom(j: JValue): TsSchema = TsSchema(
    (j \ "ts_col").extract[String], (j \ "target").extract[String],
    (j \ "exog").extract[Seq[String]])
}

/** Single load entry point: reads `params.json`'s `type` tag and
  * reconstructs the matching fitted model. */
object ModelIO {
  import Persist.formats

  def load(dir: String): ModelBuild =
    (Persist.readJson(dir) \ "type").extract[String] match {
      case "arima"       => ArimaModel.load(dir)
      case "var"         => VarModel.load(dir)
      case "prophet"     => DecomposableModel.load(dir)
      case "ml"          => GbtModel.load(dir)
      case "ml_classify" => GbtClassifyTs.load(dir)
      case other => throw new IllegalArgumentException(s"unknown model type '$other' in $dir")
    }
}
