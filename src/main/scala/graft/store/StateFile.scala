package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets

/** The one text format of the store's small driver-side state files —
  * pipe registrations and cursors, collector positions, forwarder
  * positions, streaming offsets, lease payloads and catalog lines: flat
  * one-line JSON records of strings and longs, no external deps.
  *
  * Strings are written with [[esc]] (`"`, `\` and newline as `\"`, `\\`,
  * `\n`, other control characters as `\u00XX`), so a record is always one
  * line and every `"` inside a value follows a backslash — a `"key":`
  * search can only ever hit a real key. [[unesc]] also reads `\uXXXX` for
  * any character, which covers the collector's older `"`/`\`
  * form.
  *
  * Whole-file rewrites go through [[replace]] (tmp → `.bak` → base) and
  * reads through [[read]], which falls back to the `.bak` copy: at every
  * instant the new base, the old base or its `.bak` is readable, so a
  * crash never resets a pipe, collector or forwarder to the beginning
  * (reference pkg/pipe/worker.go:73-89 saves positions after each write
  * the same way). */
object StateFile {

  def esc(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) >= ' ' && s.charAt(i) != '"' && s.charAt(i) != '\\') i += 1
    if (i == s.length) return s
    val sb = new java.lang.StringBuilder(s.length + 8).append(s, 0, i)
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Decode the [[esc]] escapes of `s[from, to)`; any other `\x` is `x`. */
  def unesc(s: String, from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < to) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case o => sb.append(o); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The string value of `"key":"..."` in a one-line record. */
  def str(line: String, key: String): String = {
    val k = "\"" + key + "\":\""
    val at = line.indexOf(k)
    if (at < 0) throw new IllegalArgumentException(s"no string '$key' in state line: $line")
    val st = at + k.length
    var i = st
    while (line.charAt(i) != '"') i += (if (line.charAt(i) == '\\') 2 else 1)
    unesc(line, st, i)
  }

  /** The number value of `"key":N` in a one-line record; `default` when
    * the key is absent (a line written before the field existed). */
  def num(line: String, key: String, default: Long): Long = {
    val k = "\"" + key + "\":"
    val at = line.indexOf(k)
    if (at < 0) return default
    val st = at + k.length
    var i = st
    while (i < line.length && (line.charAt(i).isDigit || line.charAt(i) == '-')) i += 1
    line.substring(st, i).toLong
  }

  private def sibling(p: Path, suffix: String) = new Path(p.getParent, p.getName + suffix)

  /** Crash-safe whole-file rewrite: write `<path>.tmp`, move the old base
    * to `<path>.bak`, move the tmp into place, drop the `.bak`. */
  def replace(fs: FileSystem, path: Path, lines: Iterable[String]): Unit = {
    if (!fs.exists(path.getParent)) fs.mkdirs(path.getParent)
    val tmp = sibling(path, ".tmp")
    val bak = sibling(path, ".bak")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(bak)) fs.delete(bak, false)
    if (fs.exists(path)) Store.renameOrThrow(fs, path, bak)
    Store.renameOrThrow(fs, tmp, path)
    fs.delete(bak, false)
  }

  /** The non-empty lines of the file [[replace]] last wrote, or of its
    * `.bak` when a crash left the base missing; empty when neither exists.
    * The base is tried again after the `.bak`: a concurrent [[replace]]
    * may have moved it away and back in between. */
  def read(fs: FileSystem, path: Path): Vector[String] = {
    val bak = sibling(path, ".bak")
    Iterator(path, bak, path).map { p =>
      try {
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        Some(txt.linesIterator.filter(_.nonEmpty).toVector)
      } catch { case _: java.io.FileNotFoundException => None }
    }.collectFirst { case Some(lines) => lines }.getOrElse(Vector.empty)
  }
}
