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

  /** The pool entries for `iris`. An IRI outside the pool is dropped, and
    * executors then raise the deterministic `loading remote context failed`
    * for it, never a network call: graft has no HTTP client.
    */
  def resolveAll(iris: Vector[String]): Map[String, String] =
    iris.flatMap(iri => pool.get(iri).map(iri -> _)).toMap

  /** Resolve the distinct IRIs of `referenced` on the driver and broadcast
    * them. It can only return pool entries, so the engine broadcasts
    * [[pool]] instead and scans no corpus; kgbench's set-up resolves
    * through here.
    */
  def broadcastResolved(spark: SparkSession, referenced: Dataset[String]): Broadcast[Map[String, String]] =
    spark.sparkContext.broadcast(resolveAll(referenced.distinct().collect().toVector))

  def loaderFor(resolved: Map[String, String]): DocumentLoader =
    new DocumentLoader.MapLoader(resolved)

  /** Full-pool loader for deterministic tests/benchmarks. */
  def fullLoader: DocumentLoader = new DocumentLoader.MapLoader(pool)
}
