package graft.server

import java.util.concurrent.CompletableFuture

import graft.catalog.Catalog
import graft.query.QueryParser

/** Test access to [[ApiServer]]'s package-private result store. */
object ServerSeams {

  /** Claim the result-store entry `server` uses for `queryJson` on
    * `dataset`'s current registration — the structural key (dataset,
    * registeredAt, parsed AST) — and return its latch. Nothing completes it
    * unless the caller does: a wedged single-flight winner. */
  def claimResult(server: ApiServer, dataset: String,
                  queryJson: String): CompletableFuture[(String, String)] = {
    val ds = Catalog.get(dataset).getOrElse(sys.error(s"no dataset $dataset"))
    val (latch, mine) =
      server.results.claim(QueryKey(ds.name, ds.registeredAt, QueryParser.parse(queryJson)))
    require(mine, s"the result key for $dataset is already claimed")
    latch
  }
}
