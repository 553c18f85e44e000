"""Object-store commit arbitration for the transaction log (VERDICT
r10 order #4): at 100 TB the log lives on S3/GCS/Azure, where POSIX
``O_CREAT|O_EXCL`` — the default :class:`~parquet_combiner_spark.
tools.txlog.FilesystemArbiter`'s primitive — does not exist. This
module supplies the two portable arbitration strategies real
lakehouses use, over a local MOCK with honest object-store semantics
(plain PUT is last-writer-wins replace, never exclusive), so the
whole optimistic-concurrency layer can be exercised and fuzzed
against object-store rules without a cloud dependency:

* :class:`ConditionalPutArbiter` — ``PUT If-None-Match: *`` (S3
  since Nov 2024, ``x-goog-if-generation-match: 0`` on GCS,
  ``If-None-Match: *`` on Azure Blob): the store itself rejects the
  second writer of a key. One round-trip, no external service —
  Delta 3.x's "coordinated commits"-free S3 path and Iceberg's GCS
  commit both reduce to exactly this call.
* :class:`LockLeaseArbiter` — the DynamoDB lock-table recipe
  (Delta's original ``S3DynamoDBLogStore``): stage the payload under
  a unique temp key, CLAIM the commit key in the lock table (one
  conditional create — the actual arbitration), plain PUT to the
  final key, mark the claim complete. A claimant that stalls past
  its TTL is RECOVERED, not overwritten: the next writer completes
  the stalled claim by copying ITS staged payload to the final key,
  so the final key only ever receives one claimant's bytes — a
  woken zombie's late PUT rewrites the identical payload. The TTL is
  purely a liveness bound (how soon recovery may step in); no
  correctness decision ever reads the clock.

The arbiter interface is the ONLY txlog seam that touches
atomicity — data files are written before ``publish`` and losers
leave unreferenced garbage for ``vacuum`` — so swapping these in
(via ``txlog.set_arbiter``, the one injection point) ports the whole
table layer to object stores unchanged."""

from __future__ import annotations

import os
import threading
import time
import uuid

from parquet_combiner_spark.tools.txlog import CommitArbiter, CommitConflict


class PreconditionFailed(Exception):
    """The conditional PUT's precondition (object must not exist) was
    not met — the object-store analogue of HTTP 412."""


class MockObjectStore:
    """A local object store with S3-class semantics, used to test the
    arbiters against the rules a real store enforces:

    * ``put`` is a FULL-OBJECT, last-writer-wins replace — readers
      never see a partial object (temp file + ``os.replace``), but
      two unconditional writers both "succeed" and the later one
      silently wins. This is exactly why O_EXCL-style arbitration
      cannot be assumed and the default arbiter is wrong on S3.
    * ``put(..., if_none_match=True)`` is the conditional create:
      atomically fails with :class:`PreconditionFailed` when the key
      already exists. Server-side atomicity of the check-and-create
      is emulated with one store-wide mutex (the store plays the
      single service S3 is).

    Keys are paths (absolute or store-relative); the objects
    materialize as real files so every txlog READER — ``_read_log``,
    checkpoints, version listings — works on the "store" unchanged,
    which is what lets the full model-based fuzz run under the
    object-store arbiters."""

    def __init__(self) -> None:
        self._mutex = threading.Lock()
        self.puts = 0
        self.conditional_puts = 0

    def exists(self, key: str) -> bool:
        return os.path.exists(key)

    def get(self, key: str) -> str:
        with open(key) as f:
            return f.read()

    def put(self, key: str, body: str, if_none_match: bool = False) -> None:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        tmp = f"{key}.put-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(body)
        if not if_none_match:
            self.puts += 1
            os.replace(tmp, key)  # last-writer-wins, by design
            return
        with self._mutex:
            self.conditional_puts += 1
            if os.path.exists(key):
                os.remove(tmp)
                raise PreconditionFailed(key)
            os.replace(tmp, key)


class ConditionalPutArbiter(CommitArbiter):
    """Commit arbitration by conditional PUT: one store round-trip,
    the service arbitrates. Production mapping: S3
    ``PutObject`` + ``If-None-Match: *`` (409/412 → conflict), GCS
    ``ifGenerationMatch=0``, Azure ``If-None-Match: *``."""

    def __init__(self, store: MockObjectStore) -> None:
        self.store = store

    def publish(self, path: str, payload: str) -> None:
        try:
            self.store.put(path, payload, if_none_match=True)
        except PreconditionFailed as e:
            raise CommitConflict(
                f"commit record {path} was published concurrently "
                "(conditional PUT precondition failed)"
            ) from e


class LeaseLockService:
    """An in-process DynamoDB-style lock table. Two layers:

    * ``acquire``/``release`` — plain TTL leases (kept as primitives;
      a lease alone cannot make an unconditional PUT safe — see
      :class:`LockLeaseArbiter` for why);
    * ``claim``/``mark_complete``/``complete_expired``/
      ``steal_expired`` — one PERMANENT item per commit key recording
      which writer's staged payload owns that version, created with a
      conditional ``PutItem`` (``attribute_not_exists(key)``) and
      CAS-transitioned. This item, not the lease clock, is what
      arbitrates — Delta's ``S3DynamoDBLogStore`` table, where the
      entry also drives crash recovery ("complete the incomplete
      N-1 entry before writing N")."""

    def __init__(self) -> None:
        self._mutex = threading.Lock()
        self._leases: dict[str, tuple[str, float]] = {}
        # key -> {owner, tmp, complete, until}; never deleted (the
        # production table TTL-expires COMPLETE items only)
        self._claims: dict[str, dict] = {}

    def acquire(self, key: str, owner: str, ttl: float) -> bool:
        now = time.monotonic()
        with self._mutex:
            held = self._leases.get(key)
            if held is not None and held[1] > now and held[0] != owner:
                return False
            self._leases[key] = (owner, now + ttl)
            return True

    def release(self, key: str, owner: str) -> None:
        with self._mutex:
            if self._leases.get(key, ("", 0.0))[0] == owner:
                del self._leases[key]

    def claim(
        self, key: str, owner: str, tmp: str, ttl: float
    ) -> tuple[str, str | None]:
        """Atomically create the commit claim for ``key`` referencing
        the staged payload ``tmp``. Returns ``("won", None)`` — this
        writer owns the key; ``("complete", None)`` — the key was
        committed by someone else; ``("inflight", None)`` — an
        unexpired claimant is still working; ``("expired", prior_tmp)``
        — a claimant stalled past its TTL and its staged payload
        awaits recovery."""
        now = time.monotonic()
        with self._mutex:
            item = self._claims.get(key)
            if item is None:
                self._claims[key] = {
                    "owner": owner,
                    "tmp": tmp,
                    "complete": False,
                    "until": now + ttl,
                }
                return ("won", None)
            if item["complete"]:
                return ("complete", None)
            if item["until"] > now:
                return ("inflight", None)
            return ("expired", item["tmp"])

    def mark_complete(self, key: str) -> None:
        with self._mutex:
            item = self._claims.get(key)
            if item is not None:
                item["complete"] = True

    def complete_expired(self, key: str, prior_tmp: str) -> bool:
        """Recovery CAS: flip the expired incomplete claim to complete
        iff it still references ``prior_tmp`` (a racing recoverer may
        have won already). Production mapping: conditional UpdateItem
        on (tmp = :prior AND complete = false)."""
        with self._mutex:
            item = self._claims.get(key)
            if (
                item is not None
                and not item["complete"]
                and item["tmp"] == prior_tmp
            ):
                item["complete"] = True
                return True
            return False

    def steal_expired(
        self, key: str, prior_tmp: str, owner: str, tmp: str, ttl: float
    ) -> bool:
        """Takeover CAS for the unrecoverable case (the expired
        claim's staged payload is GONE — e.g. vacuumed): re-point the
        claim at this writer's staged payload iff it still references
        ``prior_tmp`` and is incomplete. Without this, a vanished tmp
        would livelock every future writer of the key."""
        now = time.monotonic()
        with self._mutex:
            item = self._claims.get(key)
            if (
                item is not None
                and not item["complete"]
                and item["tmp"] == prior_tmp
            ):
                self._claims[key] = {
                    "owner": owner,
                    "tmp": tmp,
                    "complete": False,
                    "until": now + ttl,
                }
                return True
            return False


class LockLeaseArbiter(CommitArbiter):
    """Commit arbitration by claim table over a plain (unconditional)
    object store — Delta's ``S3DynamoDBLogStore`` recipe:

    1. stage the payload under a UNIQUE temp key (plain PUT, cannot
       race);
    2. ``claim`` the commit key in the lock table — ONE conditional
       create; this is the only arbitration point;
    3. plain PUT to the final key; 4. mark the claim complete.

    Why the plain final PUT is safe: the final key is only ever
    written by (a) the claim winner with its own staged bytes, or
    (b) a recoverer copying that SAME claimant's staged bytes —
    so every writer of the key writes identical content, and a
    claimant that stalls past its TTL (GC pause) and wakes after a
    recovery merely rewrites what recovery already published. A bare
    lease + exists()-check + PUT (the previous design) lacked
    exactly this property: the woken zombie's unconditional PUT
    could replace a DIFFERENT writer's published record. The TTL is
    a liveness bound only — no correctness branch reads the clock.

    Losing the claim, finding the key already committed, and
    performing a recovery all surface as :class:`CommitConflict` —
    the caller's re-read-and-retry loop handles them identically."""

    def __init__(
        self,
        store: MockObjectStore,
        locks: LeaseLockService,
        ttl: float = 30.0,
    ) -> None:
        self.store = store
        self.locks = locks
        self.ttl = ttl
        self._owner = uuid.uuid4().hex

    def publish(self, path: str, payload: str) -> None:
        tmp = f"{path}.staged-{self._owner}"
        self.store.put(tmp, payload)  # unique key: never contested
        status, prior_tmp = self.locks.claim(
            path, self._owner, tmp, self.ttl
        )
        if status == "complete":
            raise CommitConflict(
                f"commit record {path} was published concurrently "
                "(claim already complete)"
            )
        if status == "inflight":
            raise CommitConflict(
                f"commit claim for {path} is held by a concurrent "
                "writer"
            )
        if status == "expired":
            # recover the stalled claimant: complete ITS commit by
            # copying its staged payload to the final key, then lose.
            # Copying ours here would be the lost-update bug.
            try:
                prior_body = self.store.get(prior_tmp)
            except OSError:
                if self.locks.steal_expired(
                    path, prior_tmp, self._owner, tmp, self.ttl
                ):
                    self._finish(path, payload)
                    return
                raise CommitConflict(
                    f"commit claim for {path} changed hands during "
                    "takeover"
                ) from None
            self.store.put(path, prior_body)
            self.locks.complete_expired(path, prior_tmp)
            raise CommitConflict(
                f"recovered a stalled writer's commit at {path}; "
                "this commit lost the version"
            )
        self._finish(path, payload)

    def _finish(self, path: str, payload: str) -> None:
        if self.store.exists(path):
            try:
                published = self.store.get(path)
            except OSError:
                published = None
            if published == payload:
                # a recoverer already completed THIS writer's commit
                # (we stalled past the TTL after claiming): the
                # commit WON — reporting conflict here would make the
                # caller retry and double-apply it
                self.locks.mark_complete(path)
                return
            # a crashed holder published before its claim survived
            # (or the table predates the lock table): never overwrite
            self.locks.mark_complete(path)
            raise CommitConflict(
                f"commit record {path} was published concurrently "
                "(found under the lease)"
            )
        self.store.put(path, payload)
        self.locks.mark_complete(path)
