package graft.state

/** The typed compare-and-swap loser signal for the OCC commit protocol.
  *
  * Thrown by [[ModelStore.publishExclusive]] when another writer
  * already published the immutable version name, and by
  * [[Catalog.commit]] when the live txn moved past `expectedTxn`. The
  * caller contract is always the same: REBASE — resolve the newly live
  * base, re-derive the transaction, retry under a fresh attempt.
  *
  * Why a type and not a message: [[Catalog.commitWithRebase]] used to
  * retry on a `"rebase"` message-substring match, which was fragile in
  * both directions — an unrelated failure whose message happened to
  * contain the word would be silently swallowed and retried (re-running
  * `derive`, which may re-publish artifact versions), and a reword of
  * either conflict message would silently turn the retry loop off.
  * Worse, the TRUE race loser — one that passes both existence
  * fast-fails and then loses the `Files.move` arbiter — used to throw a
  * raw `FileAlreadyExistsException` whose message is just a path, so the
  * exact race the retry protocol exists for escaped the loop. All three
  * conflict sites now throw THIS type (the filesystem loss wrapped with
  * its cause attached), and the retry loop matches on the type alone.
  */
final class CasConflictException(message: String, cause: Throwable = null)
  extends RuntimeException(message, cause)
