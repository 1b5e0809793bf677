package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpJsonFetcher

/** The live fetcher's bounded retry, against a JDK HttpServer on a free
  * loopback port. */
class HttpJsonFetcherSpec extends AnyFunSuite {

  /** Serve each path's scripted statuses in turn (the last one repeats;
    * 0 closes the connection without a response), then run `body` with
    * the server's base URL and a per-path call counter. */
  private def withServer(script: Map[String, Seq[Int]])(
      body: (String, String => Int) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val calls = script.map { case (path, _) => path -> new AtomicInteger() }
    script.foreach { case (path, statuses) =>
      server.createContext(path, ex => {
        val status = statuses(math.min(calls(path).getAndIncrement(), statuses.size - 1))
        if (status != 0) {
          val bytes = s"""[{"status": $status}]""".getBytes(UTF_8)
          ex.sendResponseHeaders(status, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        }
        ex.close()
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", p => calls(p).get)
    finally server.stop(0)
  }

  test("5xx is retried with backoff until a 2xx answers") {
    withServer(Map("/flaky" -> Seq(503, 503, 200))) { (base, calls) =>
      assert(new HttpJsonFetcher(5).fetch(s"$base/flaky") == """[{"status": 200}]""")
      assert(calls("/flaky") == 3)
    }
  }

  test("4xx fails after one call; a 5xx that persists fails after the last attempt") {
    withServer(Map("/missing" -> Seq(404), "/down" -> Seq(503))) { (base, calls) =>
      val fetcher = new HttpJsonFetcher(5)
      val e404 = intercept[RuntimeException](fetcher.fetch(s"$base/missing"))
      assert(e404.getMessage.contains("HTTP 404"))
      assert(calls("/missing") == 1)
      val e503 = intercept[RuntimeException](fetcher.fetch(s"$base/down"))
      assert(e503.getMessage.contains("HTTP 503"))
      assert(calls("/down") == HttpJsonFetcher.MaxAttempts)
    }
  }

  test("a dropped connection (IOException) is retried") {
    withServer(Map("/drop" -> Seq(0, 200))) { (base, calls) =>
      assert(new HttpJsonFetcher(5).fetch(s"$base/drop") == """[{"status": 200}]""")
      assert(calls("/drop") >= 2)
    }
  }
}
