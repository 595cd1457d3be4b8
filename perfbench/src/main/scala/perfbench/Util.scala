package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** SplitMix64: a small, fully specified generator, so the inputs for a
  * seed are the same on every JVM and every run.
  */
final class Rng(seed: Long) {
  private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def below(n: Long): Long = java.lang.Long.remainderUnsigned(nextLong(), n)
  def int(n: Int): Int = below(n.toLong).toInt
  def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.size))
  def shuffle[T](xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = int(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** One timed operation. A failed operation keeps its kind and name
  * (it was attempted) but its latency is never reported.
  */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean, error: String = "")

/** Host and process readings. */
object Host {
  def gcMillis: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def status(key: String): Long =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** Peak resident set of this process, in MiB. */
  def peakRssMb: Double = status("VmHWM") / 1024.0
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Op => apply(mutable.LinkedHashMap(
      "kind" -> o.kind, "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error))
    case other => str(other.toString)
  }
}

/** Local file-system helpers. */
object Fs {
  /** Bytes of the regular files under `p`, hidden files included. */
  def bytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        var n = 0L
        st.forEach(f => if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f))
        n
      } finally st.close()
    }
  }
}
