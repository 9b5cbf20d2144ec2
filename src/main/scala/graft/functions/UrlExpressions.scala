package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization — the first step of every web-corpus recipe
  * (C4, RefinedWeb, Dolma all key dedup/caps on a normalized URL or its
  * registrable host): syntax-based normalization per RFC 3986 §6.2.2-3,
  * deterministic and engine-portable, no java.net dependency in the hot
  * path (hand-rolled parse — java.net.URI's quirks are JVM-version
  * lore, the RFC text is not).
  *
  * `url_canonicalize`: lowercase scheme+host, strip the scheme's
  * default port (http:80, https:443), drop the fragment, resolve
  * dot-segments in the path (§5.2.4), empty path with an authority
  * becomes "/". Userinfo, non-default ports, query strings, and
  * percent-encodings pass through byte-for-byte (decoding reserved
  * characters changes semantics — §6.2.2.2 normalizes only case inside
  * escapes, a step skipped here to keep the transform injective on the
  * escape set).
  *
  * `url_host`: the lowercased host alone (userinfo and port removed) —
  * the per-domain grouping key.
  *
  * NULL for anything that does not parse as scheme://authority...
  * (quarantine, not error — crawl URL columns always carry junk).
  */
private[graft] object UrlKernel {

  /** (scheme, userinfo or null, host, port or -1, path, query or null) */
  def split(u: String): Array[String] = {
    if (u == null) return null
    val si = u.indexOf("://")
    if (si <= 0) return null
    val scheme = u.substring(0, si)
    if (!scheme.charAt(0).isLetter ||
      !scheme.forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.'))
      return null
    var i = si + 3
    val authEnd = {
      var j = i
      while (j < u.length && u.charAt(j) != '/' && u.charAt(j) != '?' && u.charAt(j) != '#') j += 1
      j
    }
    val auth = u.substring(i, authEnd)
    if (auth.isEmpty) return null
    val (userinfo, hostPort) = auth.lastIndexOf('@') match {
      case -1 => (null, auth)
      case at => (auth.substring(0, at), auth.substring(at + 1))
    }
    // IP-literal hosts ([::1], [2001:db8::7]) carry colons inside the
    // brackets — the port separator is only a colon AFTER the ']'
    val (host, port) =
      if (hostPort.startsWith("[")) {
        val close = hostPort.indexOf(']')
        if (close == -1) return null
        val rest = hostPort.substring(close + 1)
        if (rest.isEmpty) (hostPort.substring(0, close + 1), null)
        else if (rest.charAt(0) == ':' && rest.length > 1 &&
          rest.substring(1).forall(_.isDigit))
          (hostPort.substring(0, close + 1), rest.substring(1))
        else return null
      } else hostPort.lastIndexOf(':') match {
        case -1 => (hostPort, null)
        case ci =>
          val p = hostPort.substring(ci + 1)
          if (p.isEmpty || !p.forall(_.isDigit)) return null
          (hostPort.substring(0, ci), p)
      }
    if (host.isEmpty) return null
    i = authEnd
    val pathEnd = {
      var j = i
      while (j < u.length && u.charAt(j) != '?' && u.charAt(j) != '#') j += 1
      j
    }
    val path = u.substring(i, pathEnd)
    val query =
      if (pathEnd < u.length && u.charAt(pathEnd) == '?') {
        val fe = u.indexOf('#', pathEnd)
        u.substring(pathEnd + 1, if (fe == -1) u.length else fe)
      } else null
    Array(scheme, userinfo, host, port, path, query)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over an absolute path. */
  def resolveDots(path: String): String = {
    if (path.isEmpty) return "/"
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    // trailing "." / ".." leave a directory reference -> trailing slash
    val trailingSlash = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    for (seg <- path.split("/", -1) if seg.nonEmpty) seg match {
      case "." => ()
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case s => out += s
    }
    val joined = out.mkString("/")
    "/" + joined + (if (trailingSlash && joined.nonEmpty) "/" else "")
  }

  private def defaultPort(scheme: String): String = scheme match {
    case "http" => "80"
    case "https" => "443"
    case _ => null
  }

  def canonicalize(u: UTF8String): UTF8String = {
    if (u == null) return null
    val parts = split(u.toString)
    if (parts == null) return null
    val scheme = parts(0).toLowerCase
    val host = parts(2).toLowerCase
    val port =
      if (parts(3) == null || parts(3) == defaultPort(scheme)) ""
      else ":" + parts(3)
    val userinfo = if (parts(1) == null) "" else parts(1) + "@"
    val path = resolveDots(parts(4))
    val query = if (parts(5) == null) "" else "?" + parts(5)
    UTF8String.fromString(scheme + "://" + userinfo + host + port + path + query)
  }

  def host(u: UTF8String): UTF8String = {
    if (u == null) return null
    val parts = split(u.toString)
    if (parts == null) null else UTF8String.fromString(parts(2).toLowerCase)
  }
}

case class UrlCanonicalize(child: Expression)
    extends UnaryKernel("url_canonicalize", KernelInput.Utf8, StringType, "UrlKernel.canonicalize",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = UrlKernel.canonicalize(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class UrlHost(child: Expression)
    extends UnaryKernel("url_host", KernelInput.Utf8, StringType, "UrlKernel.host",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = UrlKernel.host(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
