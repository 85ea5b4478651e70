package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.TxLog

/** Forward-compat contract of the manifest format (round-8 directive
  * #5): every commit is stamped with its protocol version, and a reader
  * that meets a HIGHER version — either a bumped `protocol=` field or a
  * newer header line — must refuse loudly instead of half-parsing the
  * fields it happens to know. Torn/garbage manifests keep their crash-
  * recovery semantics (skipped, prior generation served): only a
  * well-formed FUTURE manifest is a hard error. */
class TxLogProtocolSpec extends SparkSpec {
  import spark.implicits._

  /** A protocol newer than this reader's. */
  private val future = TxLog.ProtocolVersion + 1

  private def freshZone(): String =
    Files.createTempDirectory("graft_proto").toString + "/zone"

  /** The zone's newest gen-N manifest path. */
  private def headManifest(zone: String): java.nio.file.Path =
    Files.list(Paths.get(zone, "_txlog")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("gen-"))
      .maxBy(_.getFileName.toString.stripPrefix("gen-").toLong)

  test("same-version log round-trips, every manifest stamped protocol=1") {
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(10L).toDF("id"))
    TxLog.append(spark, zone, spark.range(10L, 15L).toDF("id"))
    assert(TxLog.read(spark, zone).as[Long].collect().toSet === (0L until 15L).toSet)
    val manifests = Files.list(Paths.get(zone, "_txlog")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("gen-")).toSeq
    assert(manifests.nonEmpty)
    manifests.foreach { m =>
      assert(Files.readString(m).contains("\nprotocol=1\n"),
        s"$m must carry the protocol stamp")
    }
  }

  test("checkpoint manifests carry the protocol stamp and a bumped one refuses") {
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(2L).toDF("id"))
    for (i <- 0 until 12)
      TxLog.append(spark, zone, spark.range(10L + i, 11L + i).toDF("id"))
    val chks = Files.list(Paths.get(zone, "_txlog")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("chk-")).toSeq
    assert(chks.nonEmpty, "interval checkpoints must exist after 12 appends")
    chks.foreach { c =>
      assert(Files.readString(c).contains("\nprotocol=1\n"),
        s"$c must carry the protocol stamp")
    }
    // a future-protocol CHECKPOINT refuses exactly like a gen manifest
    val c = chks.maxBy(_.getFileName.toString.stripPrefix("chk-").toLong)
    Files.writeString(c,
      Files.readString(c).replace("\nprotocol=1\n", s"\nprotocol=$future\n"))
    intercept[TxLog.UnsupportedProtocolException] {
      TxLog.read(spark, zone).count()
    }
  }

  test("a protocol-bumped manifest is refused loudly, not skipped") {
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(10L).toDF("id"))
    TxLog.append(spark, zone, spark.range(10L, 15L).toDF("id"))
    val head = headManifest(zone)
    Files.writeString(head,
      Files.readString(head).replace("\nprotocol=1\n", s"\nprotocol=$future\n"))
    val e = intercept[TxLog.UnsupportedProtocolException] {
      TxLog.read(spark, zone).count()
    }
    assert(e.getMessage.contains(s"protocol $future") &&
      e.getMessage.contains(s"understands up to ${TxLog.ProtocolVersion}"))
  }

  test("a newer header line is refused loudly, not treated as torn") {
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(5L).toDF("id"))
    val head = headManifest(zone)
    Files.writeString(head,
      Files.readString(head).replace("graft-txlog v1", "graft-txlog v9"))
    val e = intercept[TxLog.UnsupportedProtocolException] {
      TxLog.latest(spark, zone)
    }
    assert(e.getMessage.contains("graft-txlog v9"))
  }

  test("a future manifest with unknown body LINE TYPES still refuses loudly") {
    // the protocol check must not depend on the rest of the body being
    // parseable: a protocol-2 manifest adding a new 'd <path>' line type
    // (no '=', chokes the v1 kv parse) must refuse, not read as torn —
    // torn would silently serve the OLDER generation
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(10L).toDF("id"))
    TxLog.append(spark, zone, spark.range(10L, 15L).toDF("id"))
    val head = headManifest(zone)
    Files.writeString(head,
      Files.readString(head)
        .replace("\nprotocol=1\n", s"\nprotocol=$future\nd deletion/vector.bin\n"))
    val e = intercept[TxLog.UnsupportedProtocolException] {
      TxLog.read(spark, zone).count()
    }
    assert(e.getMessage.contains(s"protocol $future"))
  }

  test("an unparseable protocol VALUE on a complete manifest refuses loudly") {
    // "protocol=2.0" / "protocol=x" parse to no Long; the plain
    // NumberFormatException would be swallowed by torn-corpse tolerance
    // and silently serve the OLDER generation — it must refuse instead
    for (bad <- Seq("2.0", "x")) {
      val zone = freshZone()
      TxLog.replace(spark, zone, spark.range(10L).toDF("id"))
      TxLog.append(spark, zone, spark.range(10L, 15L).toDF("id"))
      val head = headManifest(zone)
      Files.writeString(head,
        Files.readString(head).replace("\nprotocol=1\n", s"\nprotocol=$bad\n"))
      val e = intercept[TxLog.UnsupportedProtocolException] {
        TxLog.read(spark, zone).count()
      }
      assert(e.getMessage.contains(bad))
    }
  }

  test("garbage bytes stay torn-corpse tolerant: prior generation served") {
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(10L).toDF("id"))
    TxLog.append(spark, zone, spark.range(10L, 15L).toDF("id"))
    Files.writeString(headManifest(zone), "not a manifest at all")
    // head gen is unreadable -> resolution walks back one generation;
    // crucially this must NOT surface as a protocol refusal
    assert(TxLog.read(spark, zone).as[Long].collect().toSet ===
      (0L until 10L).toSet, "torn head must fall back to the prior gen")
  }
}
