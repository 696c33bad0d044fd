package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process OPeNDAP DAP2 server over dense 4-D (time, depth, lat,
  * lon) variables: DDS and DAS text, and XDR `.dods` responses for an
  * axis or for any `[a:b]` / `[i]` hyperslab of a data variable (a
  * projected Grid degenerates to a bare array of the sliced shape, as
  * real servers return it).
  */
object Dap2Fixture {

  /** A data variable: its DAP type (`Float64`, `Float32` or `Int16`),
    * its values row-major, and its DAS attribute lines
    * (e.g. `Int16 missing_value -30000`).
    */
  final case class Var(dapType: String, values: Array[Double], atts: Seq[String])

  final case class Dataset(times: Seq[Double], depths: Seq[Double], lats: Seq[Double],
                           lons: Seq[Double], vars: Seq[(String, Var)]) {
    private val axes = Seq("time" -> times, "depth" -> depths, "lat" -> lats, "lon" -> lons)
    private val sizes = axes.map(_._2.size)
    private def dims(ns: Seq[Int]) =
      axes.map(_._1).zip(ns).map { case (a, n) => s"[$a = $n]" }.mkString
    private def axisDecl(a: String) = s"Float64 $a[$a = ${axes.toMap.apply(a).size}];"

    // declaration ORDER is part of the DODS wire contract (values
    // follow DDS order)
    def dds: String = "Dataset {\n" +
      axes.map { case (a, _) => s"    ${axisDecl(a)}\n" }.mkString +
      vars.map { case (v, x) =>
        s"    Grid {\n     ARRAY:\n        ${x.dapType} $v${dims(sizes)};\n     MAPS:\n" +
          axes.map { case (a, _) => s"        ${axisDecl(a)}\n" }.mkString + s"    } $v;\n"
      }.mkString + "} fixture;\n"

    def das: String = "Attributes {\n" + vars.map { case (v, x) =>
      s"    $v {\n" + x.atts.map(a => s"        $a;\n").mkString + "    }\n"
    }.mkString + "}"

    def dods(query: String): Array[Byte] = {
      val name = query.takeWhile(_ != '[')
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      def header(decl: String): Unit =
        bos.write(s"Dataset {\n    $decl\n} fixture;\n\nData:\n".getBytes(StandardCharsets.US_ASCII))
      axes.toMap.get(name) match {
        case Some(vals) =>
          header(axisDecl(name))
          out.writeInt(vals.size); out.writeInt(vals.size)
          vals.foreach(out.writeDouble)
        case None =>
          val x = vars.toMap.apply(name)
          val ranges = """\[(\d+)(?::(\d+))?\]""".r.findAllMatchIn(query).map { m =>
            val lo = m.group(1).toInt
            lo to Option(m.group(2)).map(_.toInt).getOrElse(lo)
          }.toSeq
          header(s"${x.dapType} $name${dims(ranges.map(_.size))};")
          val Seq(ts, ds, ys, xs) = ranges
          val cells = for (t <- ts; d <- ds; y <- ys; xi <- xs)
            yield x.values(((t * sizes(1) + d) * sizes(2) + y) * sizes(3) + xi)
          out.writeInt(cells.size); out.writeInt(cells.size)
          cells.foreach { v =>
            x.dapType match {
              case "Float64" => out.writeDouble(v)
              case "Float32" => out.writeFloat(v.toFloat)
              case "Int16" => out.writeInt(v.toInt) // XDR carries Int16 as 32 bits
            }
          }
      }
      out.flush()
      bos.toByteArray
    }
  }

  /** Runs `f` with the URL of a server for `ds`. */
  def serve[A](ds: Dataset)(f: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val body =
        if (path.endsWith(".dds")) ds.dds.getBytes(StandardCharsets.US_ASCII)
        else if (path.endsWith(".das")) ds.das.getBytes(StandardCharsets.US_ASCII)
        else ds.dods(Option(ex.getRequestURI.getQuery).getOrElse(""))
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/hycom/fixture")
    finally server.stop(0)
  }
}
