package graft.pipeline

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The one JSON codec for the pipeline's commit records (checkpoint,
  * curation-stage and backup manifests) and the CLI summary lines. Keys
  * follow case-class field order and Jackson escapes every string, so no
  * CLI value or path — control characters included — can commit an
  * unreadable record. Reading fills a missing field from its case-class
  * default (manifests that predate the field) and throws on malformed
  * JSON or on a missing field without a default.
  */
object Json {

  private implicit val formats: Formats = DefaultFormats

  def encode[T <: AnyRef](value: T): String = Serialization.write(value)

  /** Commit atomically at `path` (tmp + rename, [[Fs.writeAtomic]]). */
  def write[T <: AnyRef](path: String, value: T): Unit = Fs.writeAtomic(path, encode(value))

  /** None when `path` is absent. */
  def read[T: scala.reflect.Manifest](path: String): Option[T] =
    Fs.readString(path).map(Serialization.read[T](_))

  /** Seconds rounded to centiseconds, the summary lines' resolution. */
  def centis(sec: Double): Double = math.round(sec * 100) / 100.0
}
