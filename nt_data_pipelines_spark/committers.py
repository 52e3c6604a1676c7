"""Pluggable exclusive-commit hooks for the catalog's manifest log
(``commit_mode="filelist"``).

The manifest commit (``Catalog._commit_manifest``) is the ONE write
that must be exclusive: whoever creates ``<gen>.json`` first owns that
generation, and the loser must see its creation fail so optimistic
concurrency can recompute. The built-in paths cover stores with a
native exclusive primitive:

- local / ``file://``: hardlink publish (atomic, exclusive, complete);
- ``hdfs://``-class: staged no-overwrite rename (server-side atomic).

Object stores have NEITHER — S3A "rename" is copy+delete, so two
racing writers can both believe they created the manifest and one
acknowledged commit silently vanishes. This is the same problem Delta
Lake solves with its LogStore interface (DynamoDB lock on S3 before
conditional writes existed; native conditional PUT since). The public
fix is S3's ``If-None-Match: *`` conditional write (GA since 2024;
GCS's equivalent is ``if-generation-match: 0``): a single PUT that the
store itself rejects with ``412 PreconditionFailed`` when the key
already exists — arbitration and publication in one atomic call.

This module provides that hook:

- :class:`ExclusiveCommitter` — the protocol ``Catalog`` accepts;
- :class:`S3ConditionalPutCommitter` — the real-store implementation
  (boto3 import-guarded, client injectable for tests);
- :class:`FakeObjectStore` + :class:`ObjectStoreConditionalCommitter`
  + :class:`NonAtomicObjectStoreCommitter` — an in-memory S3 stand-in
  with BOTH semantics (atomic conditional PUT, and the unsafe
  exists-then-PUT that models plain S3A), so tests can demonstrate the
  double-win the refusal in ``Catalog.__init__`` guards against and
  prove the conditional path closes it.

A catalog opened in ``filelist`` mode on an object-store
scheme with no committer raises ``ValueError`` loudly rather than
racing quietly — see ``Catalog.__init__``.

Reference deployment context: the reference connects its lake client
to S3 (``clients/bear_lake.py:25-26``), which is why the object-store
commit path is first-class here rather than a documented caveat.
"""

from __future__ import annotations

import os
import re
import threading
import time
import uuid
from typing import Protocol, runtime_checkable


@runtime_checkable
class ExclusiveCommitter(Protocol):
    """Atomic create-if-absent for one small manifest object.

    Contract: ``put_if_absent(path, payload)`` atomically creates
    ``path`` with exactly ``payload`` iff no object exists there, and
    returns ``True``; returns ``False`` (without writing) when the
    path already exists. "Atomically" means two concurrent calls for
    the same path must never both return ``True`` — that is the whole
    point of the interface. The winning write must be visible to
    subsequent reads of the same path (the catalog's readers resolve
    generations by listing/reading the manifest directory).
    """

    def put_if_absent(self, path: str, payload: bytes) -> bool:  # pragma: no cover
        ...


class S3ConditionalPutCommitter:
    """Exclusive commit via S3 ``If-None-Match: *`` conditional PUT.

    One API call arbitrates AND publishes: S3 itself rejects the PUT
    with ``412 PreconditionFailed`` when the key exists, so two racing
    writers can never both win — no lock table, no rename emulation.

    ``client`` is injectable (anything with boto3's ``put_object``
    signature) so the protocol is testable without network or boto3;
    when omitted, boto3 is imported lazily and a missing install is a
    clear ImportError at first commit, not a silent fallback to an
    unsafe path.
    """

    def __init__(self, bucket: str, client=None):
        self.bucket = bucket
        self._client = client

    def _s3(self):
        if self._client is None:
            import boto3  # import-guarded: optional dependency

            self._client = boto3.client("s3")
        return self._client

    @staticmethod
    def _key_for(path: str) -> str:
        """``s3a://bucket/a/b.json`` or ``/a/b.json`` -> ``a/b.json``."""
        if "://" in path:
            path = path.split("://", 1)[1].split("/", 1)[1]
        return path.lstrip("/")

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        try:
            self._s3().put_object(
                Bucket=self.bucket,
                Key=self._key_for(path),
                Body=payload,
                IfNoneMatch="*",
            )
            return True
        except Exception as e:  # noqa: BLE001 - typed below, duck-typed by design
            # boto3 raises ClientError with the HTTP status in the
            # response dict; duck-type it so injected fakes need no
            # botocore import. Anything that is not a 412 is a real
            # failure and must propagate (a swallowed 500 would look
            # like "lost the race" and make OCC retry forever).
            resp = getattr(e, "response", None) or {}
            status = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
            code = (resp.get("Error") or {}).get("Code")
            if status == 412 or code in ("PreconditionFailed", "412"):
                return False
            raise


class FakeObjectStore:
    """In-memory S3 stand-in with both PUT semantics.

    - :meth:`put_if_none_match` is the atomic conditional write
      (lock-guarded compare-and-set) — what real S3 does with
      ``If-None-Match: *``.
    - :meth:`exists` + :meth:`put` are the UNSAFE pair a plain-S3A
      commit reduces to (check, then last-write-wins PUT with a copy
      window in between) — deliberately non-atomic so tests can
      produce the double-win.
    """

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def exists(self, key: str) -> bool:
        with self._lock:
            return key in self._objects

    def put(self, key: str, body: bytes) -> None:
        with self._lock:
            self._objects[key] = body

    def get(self, key: str) -> bytes | None:
        with self._lock:
            return self._objects.get(key)

    def put_if_none_match(self, key: str, body: bytes) -> bool:
        with self._lock:
            if key in self._objects:
                return False
            self._objects[key] = body
            return True


def _mirror_to_local(path: str, payload: bytes) -> None:
    """Write the winning manifest where the catalog's readers look.

    Only the arbitration winner calls this, so a plain staged
    ``os.rename`` suffices (no second writer targets the path; the
    stage still guards against a torn read of a half-written file).
    On a real S3 root the conditional PUT already IS the readable
    object and no mirror is involved.
    """
    # Hadoop normalizes file URIs to BOTH 'file:///p' and 'file:/p'
    # forms — strip either, and refuse other schemes outright (an
    # os-level write of 's3a://…' would create a literal relative
    # 's3a:' directory, the exact pitfall catalog.py's scheme
    # handling warns about).
    if path.startswith("file:///"):
        local = path[len("file://"):]
    elif path.startswith("file:/") and not path.startswith("file://"):
        local = path[len("file:"):]
    elif path.startswith("file:"):
        # file://host/p (remote authority) or file:relative
        raise ValueError(f"unsupported file URI form: {path!r}")
    elif re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path):
        raise ValueError(
            f"_mirror_to_local got non-local scheme-qualified path {path!r}; "
            "mirroring is only meaningful for local roots"
        )
    else:
        local = path
    os.makedirs(os.path.dirname(local), exist_ok=True)
    tmp = f"{local}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.rename(tmp, local)


class ObjectStoreConditionalCommitter:
    """ExclusiveCommitter over a store's conditional PUT.

    Arbitration happens in the store's atomic ``put_if_none_match``;
    with ``mirror=True`` (the test-harness shape, where the catalog
    root is a local directory readable by Hadoop's local FS) the
    winner then materializes the manifest file for readers.
    """

    def __init__(self, store: FakeObjectStore, mirror: bool = True):
        self.store = store
        self.mirror = mirror

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        if not self.store.put_if_none_match(path, payload):
            return False
        if self.mirror:
            _mirror_to_local(path, payload)
        return True


class NonAtomicObjectStoreCommitter:
    """The UNSAFE exists-then-PUT protocol plain S3A reduces to.

    Exists ONLY to demonstrate the failure mode in tests: with a
    nonzero ``race_window`` (modeling S3A's copy+delete latency), two
    racing writers both pass the exists check and both return True —
    the double-win that silently drops one acknowledged commit. Never
    pass this to a production catalog.
    """

    def __init__(
        self, store: FakeObjectStore, race_window: float = 0.0, mirror: bool = True
    ):
        self.store = store
        self.race_window = race_window
        self.mirror = mirror

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        if self.store.exists(path):
            return False
        if self.race_window:
            time.sleep(self.race_window)
        self.store.put(path, payload)
        if self.mirror:
            _mirror_to_local(path, payload)
        return True
