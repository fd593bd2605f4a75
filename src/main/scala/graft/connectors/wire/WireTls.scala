package graft.connectors.wire

import java.nio.file.{Files, Path}
import java.security.KeyStore

import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

/** TLS for the wire layer — the last transport piece a real migration
  * hits on day one (every reference client dials HTTPS by default,
  * e.g. `export_vdf/pinecone_export.py:96-99`), exercisable without
  * egress through an in-process HTTPS stub.
  *
  *  - Clients: `WireHttp` accepts `https://` bases out of the box; the
  *    TRUST-STORE KNOB (`-Dgraft.wire.truststore=<pkcs12>` +
  *    `-Dgraft.wire.truststorePass=<pass>`) points the shared client
  *    at a custom CA bundle — the standard private-CA deployment
  *    story, and what lets the specs trust a test-time self-signed
  *    cert without touching JVM-global defaults. Absent the knob, the
  *    platform trust roots apply (the public-endpoint case).
  *  - Server (tests): key material is GENERATED AT TEST TIME — a
  *    keytool-made self-signed RSA pair with a 127.0.0.1/localhost
  *    SAN (so hostname verification really runs) in a temp dir; no
  *    cert or key is ever committed.
  */
object WireTls {

  final case class KeyMaterial(keyStore: Path, trustStore: Path,
      password: String)

  /** Generate a fresh self-signed pair + cert-only truststore under
    * `dir`. Runs the JDK's own keytool (no external dependency); the
    * truststore is rebuilt programmatically from the certificate alone
    * so it carries no private key. */
  def generate(dir: Path): KeyMaterial = {
    val pass = "graft-test-" + java.util.UUID.randomUUID().toString
    val ks = dir.resolve("wire-keystore.p12")
    val keytool = Path.of(System.getProperty("java.home"), "bin", "keytool")
      .toString
    val cmd = Seq(keytool, "-genkeypair", "-alias", "wire",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "2",
      "-storetype", "PKCS12", "-keystore", ks.toString,
      "-storepass", pass, "-keypass", pass,
      "-dname", "CN=localhost, O=graft-test",
      // the SAN is what makes the client's endpoint identification
      // pass against the loopback URLs the stubs hand out
      "-ext", "SAN=ip:127.0.0.1,dns:localhost")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    require(p.waitFor() == 0, s"keytool failed:\n$out")

    val loaded = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(ks)
    try loaded.load(in, pass.toCharArray) finally in.close()
    val cert = loaded.getCertificate("wire")
    val trust = KeyStore.getInstance("PKCS12")
    trust.load(null, null)
    trust.setCertificateEntry("wire", cert)
    val ts = dir.resolve("wire-truststore.p12")
    val os = Files.newOutputStream(ts)
    try trust.store(os, pass.toCharArray) finally os.close()
    KeyMaterial(ks, ts, pass)
  }

  /** Server-side context from a PKCS12 keystore. */
  def serverContext(keyStore: Path, password: String): SSLContext = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(keyStore)
    try ks.load(in, password.toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(
      KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password.toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Client context from the `graft.wire.truststore` /
    * `graft.wire.truststorePass` properties — the trust `h2s://` gRPC
    * endpoints dial with; platform roots when the knob is unset (the
    * public-CA case). */
  def clientContextFromProps(): SSLContext = {
    val ts = System.getProperty("graft.wire.truststore", "")
    if (ts.isEmpty) SSLContext.getDefault
    else clientContext(Path.of(ts),
      System.getProperty("graft.wire.truststorePass", ""))
  }

  /** Client-side context trusting exactly the given PKCS12 bundle —
    * what the `graft.wire.truststore` knob builds. */
  def clientContext(trustStore: Path, password: String): SSLContext = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(trustStore)
    try ks.load(in, password.toCharArray) finally in.close()
    val tmf = TrustManagerFactory.getInstance(
      TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }

  /** One shared test-time key material per JVM (generated lazily into
    * a temp dir) — the TLS stubs and the specs' trust-store knob both
    * point here. */
  lazy val testMaterial: KeyMaterial =
    generate(Files.createTempDirectory("graft-wire-tls"))
}
