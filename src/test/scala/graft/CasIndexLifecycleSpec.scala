package graft

/** [[IndexLifecycleContract]] through the object-store binding:
  * conditional-put coordination, rename degraded to copy+delete. */
class CasIndexLifecycleSpec extends IndexLifecycleContract {
  protected val binding: StorageBinding = CasBinding

  override protected def titles: Map[String, String] = Map(
    "bootstrap, append, delete, serve, compact — all through the binding" ->
      "bootstrap, append, delete, serve, compact — all through CAS",
    "generation-pointer pair swaps atomically through the binding" ->
      "generation-pointer pair swaps atomically through per-object puts")
}
