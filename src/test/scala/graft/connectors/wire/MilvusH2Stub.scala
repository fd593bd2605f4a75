package graft.connectors.wire

/** The specs' milvus peer: a [[MilvusStubServer]] store behind a
  * [[GrpcH2StubServer]]. `hostPort` is the bare endpoint, which
  * [[MilvusWire]] dials as cleartext HTTP/2. */
final class MilvusH2Stub {
  val milvus = new MilvusStubServer
  val h2 = new GrpcH2StubServer(milvus.dispatchH2)

  def hostPort: String = h2.hostPort

  def requestLog = milvus.requestLog
  def authLog = milvus.authLog
  def collectionSize(c: String): Int = milvus.collectionSize(c)
  def failNextWrites(n: Int, status: Int): Unit = milvus.failNextWrites(n, status)
  def failNextReads(n: Int, status: Int): Unit = milvus.failNextReads(n, status)

  def stop(): Unit = { h2.stop(); milvus.stop() }
}
