package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The engine's one JSON codec. Every document it reads or writes —
  * snapshot manifests, state-store rows, ingest settings, the oracle
  * dump — goes through this mapper's tree model (`ObjectNode` /
  * `JsonNode`): compact output, keys in insertion order, standard
  * escapes.
  */
object Json {
  val mapper = new ObjectMapper()
}
