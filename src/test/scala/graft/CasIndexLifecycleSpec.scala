package graft

/** [[IndexLifecycleContract]] and [[LockWindowContract]] through the
  * object-store binding: conditional-put coordination, rename degraded
  * to copy+delete. */
class CasIndexLifecycleSpec
    extends IndexLifecycleContract with LockWindowContract {
  protected val binding: TokenBinding = CasBinding

  override protected def titles: Map[String, String] = Map(
    "bootstrap, append, delete, serve, compact — all through the binding" ->
      "bootstrap, append, delete, serve, compact — all through CAS",
    "generation-pointer pair swaps atomically through the binding" ->
      "generation-pointer pair swaps atomically through per-object puts")
}
