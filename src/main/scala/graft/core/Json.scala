package graft.core

/** Minimal dependency-free JSON reader/writer used by the Block view serde.
  *
  * Values map to: null, Boolean, Double/Long, String, List[Any],
  * Map[String, Any] (insertion-ordered). Kept tiny on purpose — the view
  * dialect (reference core/graphs.py:265-286) only needs scalars, lists and
  * string-keyed objects.
  */
object Json {

  def render(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null          => sb.append("null")
    case None          => sb.append("null")
    case Some(x)       => write(x, sb)
    case b: Boolean    => sb.append(b)
    case i: Int        => sb.append(i)
    case l: Long       => sb.append(l)
    case f: Float      => write(f.toDouble, sb)
    case d: Double     =>
      if (d.isWhole && math.abs(d) < 1e15) sb.append(d.toLong)
      else sb.append(d)
    case s: String     => writeString(s, sb)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        writeString(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(x, sb)
      }
      sb.append(']')
    case arr: Array[_] => write(arr.toSeq, sb)
    case p: Product    => write(p.productIterator.toSeq, sb) // tuples → lists
    case other         => writeString(other.toString, sb)
  }

  private def writeString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"')
  }

  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.parseValue()
    p.skipWs()
    require(p.eof, s"trailing content at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    def parseValue(): Any = {
      skipWs()
      require(!eof, "unexpected end of input")
      s.charAt(pos) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => parseString()
        case 't' => expect("true"); true
        case 'f' => expect("false"); false
        case 'n' => expect("null"); null
        // non-finite doubles as `render` and Python's json.dumps write them
        case 'N' => expect("NaN"); Double.NaN
        case 'I' => expect("Infinity"); Double.PositiveInfinity
        case '-' if s.startsWith("-Infinity", pos) =>
          expect("-Infinity"); Double.NegativeInfinity
        case _   => parseNumber()
      }
    }

    private def expect(lit: String): Unit = {
      require(s.regionMatches(pos, lit, 0, lit.length), s"expected $lit at $pos")
      pos += lit.length
    }

    private def parseObject(): Map[String, Any] = {
      pos += 1 // '{'
      val b = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      skipWs()
      if (!eof && s.charAt(pos) == '}') { pos += 1; return b.toMap }
      while (true) {
        skipWs()
        val k = parseString()
        skipWs(); require(s.charAt(pos) == ':', s"expected : at $pos"); pos += 1
        b(k) = parseValue()
        skipWs()
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; return b.toMap
          case c   => throw new IllegalArgumentException(s"unexpected $c at $pos")
        }
      }
      b.toMap
    }

    private def parseArray(): List[Any] = {
      pos += 1 // '['
      val b = List.newBuilder[Any]
      skipWs()
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      while (true) {
        b += parseValue()
        skipWs()
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; return b.result()
          case c   => throw new IllegalArgumentException(s"unexpected $c at $pos")
        }
      }
      b.result()
    }

    private def parseString(): String = {
      require(s.charAt(pos) == '"', s"expected string at $pos")
      pos += 1
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"'  => sb.append('"')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'b'  => sb.append('\b')
            case 'f'  => sb.append('\f')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'u'  =>
              sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
              pos += 4
            case c2   => throw new IllegalArgumentException(s"bad escape \\$c2")
          }
        } else sb.append(c)
        pos += 1
      }
      pos += 1
      sb.toString
    }

    private def parseNumber(): Any = {
      val start = pos
      if (s.charAt(pos) == '-') pos += 1
      while (!eof && (s.charAt(pos).isDigit || "+-.eE".contains(s.charAt(pos)))) pos += 1
      val txt = s.substring(start, pos)
      if (txt.exists(c => c == '.' || c == 'e' || c == 'E')) txt.toDouble
      else txt.toLong
    }
  }
}
