"""Service surface: the reference's Flask routes as library calls
(VERDICT r2 "what's missing" #2 and #3).

The reference is an HTTP service (/root/reference/main.py:356-811)
whose every route is: verify a bearer token → check access → call the
engine. This module reproduces that surface without a web framework:
``Service`` methods take a bearer token + payload and return
``(status_code, payload_dict)`` exactly like the reference's
``(jsonify(...), code)`` pairs, so wiring any HTTP framework on top is
a 10-line adapter. Identity verification is the same shape as
Firebase's ``verify_id_token`` (main.py:54-77) — a signed token
carrying (uid, email, exp) — implemented locally as HMAC-SHA256 over
the payload; swap ``TokenVerifier`` for a real IdP client in
production.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import re
import time
from typing import Callable

from pyspark.sql import SparkSession

from pdf_etl_engine_spark import pipeline


# ---------------------------------------------------------------------------
# Identity (main.py:54-77): token -> {uid, email} | None
# ---------------------------------------------------------------------------

class HmacTokenVerifier:
    """Local stand-in for an IdP's ID-token verification: tokens are
    ``base64url(json payload) . hexdigest(HMAC-SHA256(secret, payload))``
    carrying uid/email/exp. Same contract as the reference's
    ``auth.verify_id_token``: any invalid, tampered, or expired token
    verifies to None (the route then answers 401) — never an
    exception. ``clock`` injectable for deterministic tests."""

    def __init__(self, secret: bytes, clock: Callable[[], float] | None = None):
        self._secret = secret
        self._clock = clock or time.time

    def issue(self, uid: str, email: str, ttl_s: float = 3600.0) -> str:
        payload = json.dumps(
            {"uid": uid, "email": email, "exp": self._clock() + ttl_s},
            sort_keys=True,
        ).encode()
        sig = hmac.new(self._secret, payload, hashlib.sha256).hexdigest()
        return base64.urlsafe_b64encode(payload).decode() + "." + sig

    def verify(self, token: str | None) -> dict | None:
        if not token:
            return None
        try:
            b64, sig = token.rsplit(".", 1)
            payload = base64.urlsafe_b64decode(b64.encode())
            want = hmac.new(self._secret, payload, hashlib.sha256).hexdigest()
            if not hmac.compare_digest(want, sig):
                return None
            data = json.loads(payload)
            if data.get("exp", 0) < self._clock():
                return None
            return {"uid": data["uid"], "email": data.get("email", "").lower()}
        except Exception:
            return None  # malformed token == unauthorized (main.py:62-64)


def _sanitize_id(name: str) -> str:
    """Folder-id grammar (main.py:383)."""
    return re.sub(r"[^a-zA-Z0-9_]", "_", name).lower()


def _valid_folder_id(name: str | None) -> bool:
    """True when ``name`` is already in the folder-id grammar — i.e. a
    value ``_sanitize_id`` could have minted. Used to VALIDATE (not
    silently rewrite) caller-supplied ids before they are composed into
    filesystem paths: a traversal-bearing id like ``../../x`` fails
    here and the route 400s instead of writing outside the bucket
    root."""
    return bool(name) and re.fullmatch(r"[a-z0-9_]+", name) is not None


def _valid_owner_id(name: str | None) -> bool:
    """Owner ids are IdP uids (alphanumeric, case-sensitive); any path
    metacharacter (``/``, ``.``, ``\\``) fails validation."""
    return bool(name) and re.fullmatch(r"[A-Za-z0-9_-]+", name) is not None


def _sanitize_filename(name: str) -> str:
    """Upload filename grammar (main.py:637)."""
    return re.sub(r"[^a-zA-Z0-9_.-]", "_", name)


class Service:
    """Route-for-route semantics of the reference service over the
    Spark-native engine. Every method: verify → authorize → library
    call; returns ``(status, dict)``."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: pipeline.Catalog,
        fact_path: str,
        incoming_root: str,
        verifier: HmacTokenVerifier,
        extractor: pipeline.Extractor = pipeline.pdf_extractor,
        type_inferrer=None,
        discover: Callable[[bytes], dict[str, str]] | None = None,
    ):
        import os

        # The path grammar (main.py:664-669) is literally
        # `incoming/{uid}/{folder}/batch/...`: the pipeline recovers
        # rel_paths by matching the `incoming/` component, so a root
        # whose last segment is named anything else would silently
        # ingest zero rows. Fail fast at construction instead.
        if os.path.basename(os.path.normpath(incoming_root)) != "incoming":
            raise ValueError(
                "incoming_root's last path component must be 'incoming' "
                f"(the reference's bucket grammar, main.py:664-669); got "
                f"{incoming_root!r}"
            )
        self.spark = spark
        self.catalog = catalog
        self.fact_path = fact_path
        self.incoming_root = incoming_root
        self.verifier = verifier
        self.extractor = extractor
        # Always wire a quarantine sink: without one the pipeline
        # (correctly) refuses to drop untrained/failed files by raising
        # — but a service route must degrade to a counted quarantine,
        # not an exception (the reference swallows these cases with a
        # 200, main.py:757-759; we count them instead).
        self.quarantine_path = f"{fact_path.rstrip('/')}_quarantine"
        from pdf_etl_engine_spark.plans import types as _types

        # Pluggable type inference: the reference tries an LLM first and
        # falls back per-value (main.py:159-162, 480-483); the shipped
        # default is the deterministic fallback inferrer.
        self.type_inferrer = type_inferrer or _types.FallbackTypeInferrer()
        self.discover = discover

    # -- /setup-account (main.py:356-373) --------------------------------
    def setup_account(self, token: str | None) -> tuple[int, dict]:
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        return 200, {"status": "success", "uid": ident["uid"]}

    # -- /create-folder (main.py:375-411) --------------------------------
    def create_folder(self, token: str | None, payload: dict) -> tuple[int, dict]:
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        name = payload.get("name")
        if not name:
            return 400, {"error": "name required"}
        folder_id = _sanitize_id(name)
        self.catalog.create_folder(
            ident["uid"],
            folder_id,
            name,
            payload.get("context_hint", ""),
            kpi_metadata=payload.get("kpi_metadata"),
        )
        import pathlib

        for kind in ("master", "batch"):  # placeholder layout, main.py:389-390
            d = pathlib.Path(self.incoming_root, ident["uid"], folder_id, kind)
            d.mkdir(parents=True, exist_ok=True)
            (d / ".placeholder").write_bytes(b"init")
        return 200, {"status": "success", "folder_id": folder_id}

    # -- /share-folder (main.py:617-629 semantics via Catalog) ------------
    def share_folder(self, token: str | None, payload: dict) -> tuple[int, dict]:
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        try:
            self.catalog.add_share(
                ident["uid"],
                payload["folder_id"],
                payload["shared_email"],
                payload.get("permission", "view"),
            )
        except (KeyError, ValueError) as e:
            return 400, {"error": str(e)}
        return 200, {"status": "success"}

    # -- /upload-batch-file (main.py:596-654): SHARED-user upload ---------
    def upload_batch_file(
        self, token: str | None, payload: dict
    ) -> tuple[int, dict]:
        ident = self.verifier.verify(token)
        if not ident or not ident.get("email"):
            return 401, {"error": "Unauthorized"}
        folder_id = payload.get("folder_id")
        owner_id = payload.get("owner_id")
        filename = payload.get("filename")
        content = payload.get("content")
        if not folder_id or not owner_id or content is None or not filename:
            return 400, {
                "error": "Missing required fields: folder_id, owner_id, or file"
            }
        if not filename.lower().endswith(".pdf"):
            return 400, {"error": "Only PDF files are allowed"}
        # Ids are about to be composed into a filesystem path — reject
        # anything outside the id grammar (traversal guard; the
        # reference string-builds the GCS object name the same way at
        # main.py:634 where `..` is inert, but on a filesystem it
        # escapes the root).
        if not _valid_owner_id(owner_id) or not _valid_folder_id(folder_id):
            return 400, {"error": "Invalid owner_id or folder_id"}
        # Share lookup (main.py:617-630): the reference reads ONE
        # Firestore doc keyed (owner, folder, email) that set() upserts
        # — the latest share wins. Our append-only share table replays
        # that as newest-wins (Catalog.effective_share), so a
        # re-share downgrading edit→view takes effect.
        permission = self.catalog.effective_share(
            owner_id, folder_id, ident["email"]
        )
        if permission is None:
            return 403, {
                "error": "Share not found. You do not have access to this folder."
            }
        if permission != "edit":
            return 403, {
                "error": "You have view-only access. Upload not permitted."
            }
        import pathlib

        safe = _sanitize_filename(filename)
        dst = pathlib.Path(self.incoming_root, owner_id, folder_id, "batch", safe)
        dst.parent.mkdir(parents=True, exist_ok=True)
        dst.write_bytes(content)
        rel = f"incoming/{owner_id}/{folder_id}/batch/{safe}"
        return 200, {"success": True, "path": rel, "filename": safe}

    # -- / (GCS trigger, main.py:656-759): process the batch --------------
    def process_batch(self) -> tuple[int, dict]:
        try:
            res = pipeline.ingest_batch(
                self.spark,
                f"{self.incoming_root}/*/*/*/*",
                self.catalog,
                self.fact_path,
                extractor=self.extractor,
                quarantine_path=self.quarantine_path,
            )
        except Exception as e:  # noqa: BLE001 — route boundary
            return 500, {"error": f"{type(e).__name__}: {e}"[:500]}
        return 200, res

    # -- /get-results (main.py:764-811) -----------------------------------
    def get_results(
        self,
        token: str | None,
        folder_id: str | None,
        owner_id: str | None = None,
        limit: int = 100,
    ) -> tuple[int, dict]:
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        if not folder_id:
            return 400, {"error": "folder_id required"}
        target = owner_id or ident["uid"]
        known = {
            (m["tenant_id"], m["folder_id"])
            for m in pipeline.latest_folder_metas(self.catalog)
        }
        if (target, folder_id) not in known:
            if owner_id is not None:
                return 404, {"error": "Folder not found or access denied"}
            # owner_id omitted and not the caller's own folder: the
            # reference falls back to a cross-tenant search gated by
            # ownership/share (main.py:783-791) — a viewer can omit
            # owner_id and still reach a folder shared with them.
            meta = self.catalog.resolve_folder_for_read(
                ident["uid"], ident["email"], folder_id
            )
            if meta is None:
                return 404, {"error": "Folder not found or access denied"}
            target = meta.get("owner") or meta["tenant_id"]
        if not self.catalog.can_read(
            ident["uid"], ident["email"], target, folder_id
        ):
            return 403, {"error": "Unauthorized"}
        # limit is clamped so no caller can turn the bounded top-k read
        # into an unbounded collect of a 100 TB partition.
        limit = max(1, min(int(limit), 1000))
        df = pipeline.read_results(
            self.spark, self.fact_path, target, folder_id, limit=limit
        )
        return 200, {"results": [r.asDict(recursive=True) for r in df.collect()]}

    # -- /get-kpis (main.py:517-591) --------------------------------------
    def get_kpis(
        self,
        token: str | None,
        folder_id: str | None,
        owner_id: str | None = None,
    ) -> tuple[int, dict]:
        """Folder-metadata read — the call a UI makes on every folder
        open. Status matrix mirrors the reference: 401 / 400 missing
        folder_id / 404 not found / 403 denied / 200 with is_trained,
        selected_kpis, context_hint, status. Pre-computed
        ``kpi_metadata`` is the fast path (main.py:551-561); folders
        trained before type inference existed fall back to on-the-fly
        typing of their raw samples (main.py:564-589) via the pluggable
        inferrer. Deviation (hardening): the reference's last-resort
        share probe matches ANY share on (owner, folder) regardless of
        recipient (main.py:545-548) — here reads stay gated per
        recipient via ``can_read``."""
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        if not folder_id:
            return 400, {"error": "folder_id required"}
        target = owner_id or ident["uid"]
        folder = self.catalog.get_folder(target, folder_id)
        if folder is None and owner_id is None:
            # owner_id omitted: same cross-tenant fallback as
            # get_results (main.py:545-548 does this for /get-kpis
            # too) — a viewer's UI typically only knows folder_id
            folder = self.catalog.resolve_folder_for_read(
                ident["uid"], ident["email"], folder_id
            )
            if folder is not None:
                target = folder.get("owner") or folder["tenant_id"]
        if folder is None:
            return 404, {"error": "Folder not found"}
        is_owner = ident["uid"] == (folder.get("owner") or target)
        if not is_owner and not self.catalog.can_read(
            ident["uid"], ident["email"], target, folder_id
        ):
            return 403, {"error": "Access denied"}
        base = {
            "is_trained": bool(folder.get("is_trained")),
            "context_hint": folder.get("context_hint") or "",
            "status": folder.get("status") or "unknown",
        }
        kpi_metadata = folder.get("kpi_metadata")
        if kpi_metadata:
            return 200, {**base, "selected_kpis": kpi_metadata}
        # Legacy-folder fallback: type the raw samples on the fly.
        return 200, {
            **base,
            "selected_kpis": self._build_kpi_metadata(
                folder.get("selected_kpis") or [],
                folder.get("kpi_samples") or {},
            ),
        }

    def _build_kpi_metadata(
        self, selected: list[str], samples: dict[str, str]
    ) -> list[dict[str, str]]:
        """The inferrer/per-value fallback layering of main.py:480-483,
        shared by confirm-kpis (train time) and get-kpis' legacy path
        (read time) so the two can never diverge: batch inferrer first,
        per-value kernel inference as the fallback."""
        from pdf_etl_engine_spark.plans.types import infer_type_of_value

        kpi_types = self.type_inferrer.infer(samples) if samples else {}
        return [
            {
                "name": name,
                "sample_value": samples.get(name, ""),
                "type": kpi_types.get(
                    name, infer_type_of_value(samples.get(name, ""))
                ),
            }
            for name in selected
        ]

    # -- folder listing (extension — the reference's UI reads Firestore
    # directly for this; a library/service consumer needs a route) ------
    def list_folders(self, token: str | None) -> tuple[int, dict]:
        """Folders the caller owns plus folders shared with them
        (newest generation each, live permission attached). Driver-side
        reads of the tiny catalog — no Spark job."""
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        own, shared = [], []
        share_rows = self.catalog.live_shares(ident["email"])
        for m in pipeline.latest_folder_metas(self.catalog):
            entry = {
                "folder_id": m["folder_id"],
                "display_name": m.get("display_name") or "",
                "is_trained": bool(m.get("is_trained")),
                "status": m.get("status") or "unknown",
            }
            owner = m.get("owner") or m["tenant_id"]
            if owner == ident["uid"]:
                own.append(entry)
            elif (owner, m["folder_id"]) in share_rows:
                shared.append(
                    {
                        **entry,
                        "owner_id": owner,
                        "permission": share_rows[(owner, m["folder_id"])],
                    }
                )
        key = lambda e: e["folder_id"]  # noqa: E731 — stable output order
        return 200, {
            "folders": sorted(own, key=key),
            "shared_folders": sorted(shared, key=key),
        }

    # -- /analyze-master (main.py:413-461) --------------------------------
    def analyze_master(
        self, token: str | None, payload: dict
    ) -> tuple[int, dict]:
        """Train step 1: discover candidate fields from a master
        document. The reference downloads the blob and asks an LLM for
        ``{field_name: example_value}`` (main.py:430-452); here
        discovery runs ``pipeline.discover_fields`` over the file —
        one binaryFile scan + Arrow-batched discovery UDF — with the
        PDF ``Key: Value`` reader as the deterministic default and the
        LLM slot pluggable via ``Service(discover=...)``. 404 when the
        file does not exist (main.py:433-434); response shape is the
        reference's ``detected_kpis`` key/value list (main.py:458)."""
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        file_path = payload.get("file_path")
        if not file_path:
            return 400, {"error": "file_path required"}
        import os
        import posixpath

        # file_path is bucket-relative (`incoming/...`, main.py:427);
        # resolve against the bucket root with traversal guarded.
        bucket_root = os.path.dirname(os.path.normpath(self.incoming_root))
        norm = posixpath.normpath(file_path)
        if norm.startswith(("/", "..")) or not norm.startswith("incoming/"):
            return 400, {"error": "file_path must be under incoming/"}
        # Ownership gate (hardening — the reference reads ANY blob by
        # path with no check, main.py:427-433, a cross-tenant leak):
        # analyzing another tenant's master requires an edit share on
        # that folder, the same bar as uploading into it.
        parts = norm.split("/")
        if len(parts) < 3:
            return 400, {"error": "file_path must be incoming/{uid}/{folder}/..."}
        owner_seg, folder_seg = parts[1], parts[2]
        if owner_seg != ident["uid"] and (
            self.catalog.effective_share(owner_seg, folder_seg, ident["email"])
            != "edit"
        ):
            return 403, {"error": "Access denied"}
        full = os.path.join(bucket_root, norm)
        if not os.path.isfile(full):
            return 404, {"error": f"File {file_path} not found"}
        binary = self.spark.read.format("binaryFile").load(full)
        discovered = pipeline.discover_fields(
            binary, extractor_discover=self._discover_fn()
        )
        detected = [
            {"key": r["kpi_name"], "value": r["sample_value"]}
            for r in discovered.select("kpi_name", "sample_value").collect()
        ]
        return 200, {"detected_kpis": detected}

    def _discover_fn(self) -> Callable[[bytes], dict[str, str]]:
        if self.discover is not None:
            return self.discover
        from pdf_etl_engine_spark.functions.pdftext import pdf_discover_fields

        return pdf_discover_fields

    # -- /confirm-kpis (main.py:468-512) ----------------------------------
    def confirm_kpis(
        self, token: str | None, payload: dict
    ) -> tuple[int, dict]:
        """Train step 2: persist the user-curated KPI set with inferred
        types. Builds ``kpi_metadata`` from selected_kpis + kpi_samples
        via the pluggable inferrer (per-KPI fallback layering exactly
        like main.py:480-483), then writes a new folder generation with
        is_trained=True / status=active plus the raw selected_kpis and
        kpi_samples (main.py:486-503) — newest-wins reads make it
        authoritative. The reference's typed-table create
        (sync_bigquery_schema_typed, main.py:506) is subsumed by the
        fact table's add-only schema evolution on first append
        (sources/writers.py). 404 when the folder was never created
        (the reference's Firestore ``update`` on a missing doc fails,
        surfaced as its catch-all 500, main.py:497-511 — a library call
        can do better)."""
        ident = self.verifier.verify(token)
        if not ident:
            return 401, {"error": "Unauthorized"}
        folder_id = payload.get("folder_id")
        selected = payload.get("selected_kpis")
        samples = payload.get("kpi_samples") or {}
        if not folder_id or selected is None:
            return 400, {"error": "folder_id and selected_kpis required"}
        existing = self.catalog.get_folder(ident["uid"], folder_id)
        if existing is None:
            return 404, {"error": "Folder not found"}
        kpi_metadata = self._build_kpi_metadata(list(selected), samples)
        self.catalog.create_folder(
            ident["uid"],
            folder_id,
            display_name=existing.get("display_name") or "",
            context_hint=existing.get("context_hint") or "",
            kpi_metadata=kpi_metadata,
            owner=existing.get("owner") or ident["uid"],
            selected_kpis=list(selected),
            kpi_samples=dict(samples),
        )
        return 200, {"status": "success", "kpi_metadata": kpi_metadata}
