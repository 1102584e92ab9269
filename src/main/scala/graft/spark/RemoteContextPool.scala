package graft.spark

import graft.core._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** Vendored remote-context pool (FIXTURES.md §4) + the broadcast resolver.
  *
  * Scale design: remote contexts are resolved ONCE on the driver and
  * broadcast — no per-row HTTP (north_star). The reference's own
  * `FrozenMap<Url, LoadedContext>` cache (/root/reference/src/lib.rs:254) is
  * the single-process version of this; a broadcast map is the 1000-executor
  * version. An unknown IRI must yield `loading remote context failed`, never
  * a network call.
  *
  * Every engine path (`Materialize.run`, `SparkEntry`, `Bench`,
  * `ClusterProbe`) broadcasts [[pool]] whole; the per-document queries that
  * call the JSON-LD API directly take [[fullLoader]] in each partition.
  */
object RemoteContextPool {
  val baseIri = "http://graft.example/ctx/"

  /** Deterministic in-repo pool; exercises vocab, prefixes, protected terms,
    * a string-redirect (/root/reference/src/context.rs:120), and a scoped
    * chain.
    */
  val pool: Map[String, String] = Map(
    s"${baseIri}vocab.jsonld" ->
      """{"@context":{"@vocab":"http://graft.example/vocab/","name":"http://schema.example/name"}}""",
    s"${baseIri}prefixes.jsonld" ->
      """{"@context":{"sdo":"http://schema.example/","ex":"http://graft.example/ns#","rdf":"http://www.w3.org/1999/02/22-rdf-syntax-ns#"}}""",
    s"${baseIri}protected.jsonld" ->
      """{"@context":{"@protected":true,"title":"http://schema.example/title","creator":"http://schema.example/creator"}}""",
    s"${baseIri}redirect.jsonld" ->
      s"""{"@context":"${baseIri}vocab.jsonld"}""",
    s"${baseIri}typed.jsonld" ->
      """{"@context":{"@vocab":"http://graft.example/vocab/","homepage":{"@type":"@id"},"count":{"@type":"http://www.w3.org/2001/XMLSchema#integer"},"tags":{"@container":"@set"}}}"""
  )

  val knownIris: Vector[String] = pool.keys.toVector.sorted

  /** Resolve IRIs: vendored pool first, then (if given) a driver-side
    * fetcher such as [[graft.core.HttpDocumentLoader]]. Without a fetcher
    * the result is a subset of [[pool]]; the fetcher is the hook for
    * contexts outside it, and kgbench's set-up resolves through here and
    * [[broadcastResolved]]. Fetch failures are
    * dropped — executors then raise the deterministic
    * `loading remote context failed` for those IRIs, never a network call.
    * The fetched document is re-serialized to its JSON text (a Link-header
    * `contextUrl` was already applied by the loader contract before this
    * point for full documents; bare contexts don't carry one).
    */
  def resolveAll(iris: Vector[String], fetcher: Option[DocumentLoader] = None): Map[String, String] =
    iris.flatMap { iri =>
      pool.get(iri).map(iri -> _).orElse(fetcher.flatMap { f =>
        try Some(iri -> graft.json.JsonWriter.write(f.load(iri).document))
        catch { case _: JsonLdError => None }
      })
    }.toMap

  /** Resolve the distinct IRIs of `referenced` on the driver (vendored pool,
    * then the optional fetcher — a production path that fetches puts an
    * [[graft.core.HttpDocumentLoader]] here) and broadcast them. HTTP happens
    * at most once per distinct IRI, on the driver. With no fetcher it can
    * only return pool entries, so the engine broadcasts [[pool]] instead and
    * scans no corpus.
    */
  def broadcastResolved(spark: SparkSession, referenced: Dataset[String],
      fetcher: Option[DocumentLoader] = None): Broadcast[Map[String, String]] = {
    val iris = referenced.distinct().collect().toVector
    spark.sparkContext.broadcast(resolveAll(iris, fetcher))
  }

  def loaderFor(resolved: Map[String, String]): DocumentLoader =
    new DocumentLoader.MapLoader(resolved)

  /** Full-pool loader for deterministic tests/benchmarks. */
  def fullLoader: DocumentLoader = new DocumentLoader.MapLoader(pool)
}
