package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI flag parsing (baker_cli.go:29-103 parity) and the -pprof
  * diagnostics server.
  */
class CliSpec extends AnyFunSuite {

  test("flag parsing: options in any order, toml positional, errors loud") {
    assert(Main.parse(List("t.toml")) == Right(Main.Flags(toml = Some("t.toml"))))
    assert(Main.parse(List("-v", "-pretty", "t.toml")) ==
      Right(Main.Flags(verbose = true, pretty = true, toml = Some("t.toml"))))
    assert(Main.parse(List("t.toml", "-q")) ==
      Right(Main.Flags(quiet = true, toml = Some("t.toml"))))
    assert(Main.parse(List("-pprof", "localhost:0", "t.toml")) ==
      Right(Main.Flags(pprof = Some("localhost:0"), toml = Some("t.toml"))))
    assert(Main.parse(List("-help")) == Right(Main.Flags(help = Some(None))))
    assert(Main.parse(List("-help", "*")) == Right(Main.Flags(help = Some(Some("*")))))
    assert(Main.parse(List("-help", "TCP")) == Right(Main.Flags(help = Some(Some("TCP")))))
    assert(Main.parse(List("-bogus")).isLeft)
    assert(Main.parse(List("-pprof")).isLeft)
    assert(Main.parse(List("a.toml", "b.toml")).isLeft)
  }

  test("-help NAME documents the descriptor a run resolves the name to") {
    // a Main run resolves SQS to the file-watch input, not the batch one
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.main(Array("-help", "SQS")))
    val help = out.toString("UTF-8")
    assert(help.contains("### SQS"), help)
    assert(help.contains("QueuePath"), help)
    assert(!help.contains("AwsRegion"), help)
  }

  test("-pprof server: /debug/stacks dumps thread stacks") {
    val addr = Diagnostics.serve("localhost:")
    val url = new java.net.URI(
      s"http://localhost:${addr.getPort}/debug/stacks").toURL
    val body = new String(url.openStream().readAllBytes(), "UTF-8")
    assert(body.contains("state="))
    assert(body.contains("    at "))
  }
}
