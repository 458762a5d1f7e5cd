"""Store fetchers: one small abstraction between the zarr/container IO
and the bytes, so the same read code serves local directories and
remote (http/https) stores.

Reference parity: the reference reads zarr stores over http(s) and
remote parquet through ``simplecache::``-wrapped fsspec URLs
(_io/io_zarr.py:125-168, _io/io_points.py:37).  The analogs here:

* :class:`LocalFetcher` — plain filesystem, supports listing.
* :class:`HttpFetcher` — stdlib urllib GETs.  Object/http stores have
  no directory listing, so hierarchy discovery comes from consolidated
  metadata (``.zmetadata``) and chunk discovery from the ``.zarray``
  shape/chunks grid (missing chunk = fill value — the zarr contract);
  parquet part files are named by the store's write-time file manifest
  and cached to a local temp dir before ``spark.read.parquet`` (the
  ``simplecache::`` analog).
* :class:`S3Fetcher` — ``s3://`` over the public S3 REST API with
  stdlib-only SigV4 signing (or anonymous for public buckets); CAN
  list via ListObjectsV2, so no manifest is needed; signed ``put`` /
  ``delete`` for the write half.  Works against any s3-compatible
  endpoint (``AWS_ENDPOINT_URL``).
* :class:`GSFetcher` — ``gs://`` reads + listing via the public GCS
  JSON/media endpoints; private buckets via the stdlib RS256
  service-account JWT flow (``gcs_auth.py``), uploads through the
  authenticated media endpoint; the S3-interop HMAC path (+
  ``S3Fetcher``) remains the documented alternative.

Fetchers are tiny picklable value objects: executors fetch/upload
their own chunks, so a 1000-executor cluster moves 1000 objects
concurrently with no driver bottleneck.
"""

from __future__ import annotations

import datetime
import hashlib
import hmac
import json
import os
import tempfile
import threading
import urllib.error
import urllib.parse
import urllib.request
import xml.etree.ElementTree as ET


_CACHE_DIR_LOCK = threading.Lock()


def _cache_dir(fetcher, prefix: str) -> str:
    """A remote fetcher's download directory, made on first use.  A store
    read resolves its elements on several threads that share one
    fetcher, so the check and the assignment happen under one lock."""
    with _CACHE_DIR_LOCK:
        if fetcher._cache_dir is None:
            fetcher._cache_dir = tempfile.mkdtemp(prefix=prefix)
        return fetcher._cache_dir


class LocalFetcher:
    """Filesystem-backed store access rooted at ``root``."""

    can_list = True

    def __init__(self, root: str):
        self.root = root

    def _p(self, rel: str) -> str:
        return os.path.join(self.root, *rel.split("/")) if rel else self.root

    def get(self, rel: str) -> bytes | None:
        p = self._p(rel)
        if not os.path.isfile(p):
            return None
        with open(p, "rb") as f:
            return f.read()

    def get_json(self, rel: str) -> dict | None:
        b = self.get(rel)
        return None if b is None else json.loads(b)

    def get_range(self, rel: str, start: int, length: int | None = None) -> bytes | None:
        """Byte range of an object; ``start < 0`` means a suffix range
        (the last ``-start`` bytes) — the access pattern selective
        sharded-zarr reads need (index at the end of the shard)."""
        p = self._p(rel)
        if not os.path.isfile(p):
            return None
        with open(p, "rb") as f:
            if start < 0:
                f.seek(max(os.path.getsize(p) + start, 0))
                return f.read()
            f.seek(start)
            return f.read(length) if length is not None else f.read()

    def list_dir(self, rel: str = "") -> list[str] | None:
        p = self._p(rel)
        if not os.path.isdir(p):
            return []
        return sorted(os.listdir(p))

    def is_dir(self, rel: str) -> bool:
        return os.path.isdir(self._p(rel))

    def local_dir(self, rel: str, files: list[str] | None = None) -> str:
        """Local directory path for ``rel`` (no copy needed)."""
        return self._p(rel)


class HttpFetcher:
    """http(s)-backed store access.  No listing: callers must know the
    keys (from ``.zmetadata``, the ``.zarray`` grid, or the manifest)."""

    can_list = False

    def __init__(self, base_url: str, cache_dir: str | None = None, timeout: float = 30.0):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self._cache_dir = cache_dir

    def _u(self, rel: str) -> str:
        return f"{self.base_url}/{rel}" if rel else self.base_url

    def get(self, rel: str) -> bytes | None:
        try:
            with urllib.request.urlopen(self._u(rel), timeout=self.timeout) as r:
                return r.read()
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise
        except urllib.error.URLError as e:
            raise IOError(f"cannot fetch {self._u(rel)}: {e}") from e

    def get_json(self, rel: str) -> dict | None:
        b = self.get(rel)
        return None if b is None else json.loads(b)

    def get_range(self, rel: str, start: int, length: int | None = None) -> bytes | None:
        """HTTP Range read (suffix range for ``start < 0``).  Servers
        without Range support return 200 + full body; the requested
        slice is cut client-side so callers always get range semantics."""
        if start < 0:
            hdr = f"bytes={start}"
        elif length is not None:
            hdr = f"bytes={start}-{start + length - 1}"
        else:
            hdr = f"bytes={start}-"
        try:
            req = urllib.request.Request(self._u(rel), headers={"Range": hdr})
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                body = r.read()
                if r.status == 206:
                    return body
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise
        except urllib.error.URLError as e:
            raise IOError(f"cannot fetch {self._u(rel)}: {e}") from e
        # 200: no server-side range support; slice locally
        if start < 0:
            return body[start:]
        end = None if length is None else start + length
        return body[start:end]

    def list_dir(self, rel: str = "") -> list[str] | None:
        return None  # http has no directory listing

    def is_dir(self, rel: str) -> bool:
        # undecidable over plain http; consolidated metadata answers this
        return False

    def local_dir(self, rel: str, files: list[str] | None = None) -> str:
        """Download ``files`` under the ``rel`` prefix into a local
        cache directory and return its path — the ``simplecache::``
        analog for reading remote parquet with Spark."""
        if not files:
            raise ValueError(
                f"remote parquet read of {self._u(rel)} needs the store's file "
                "manifest (write with consolidate_metadata) to know part names"
            )
        tag = hashlib.sha1(f"{self.base_url}/{rel}".encode()).hexdigest()[:16]
        d = os.path.join(_cache_dir(self, "sdspark-httpcache-"), tag)
        os.makedirs(d, exist_ok=True)
        for fn in files:
            dest = os.path.join(d, fn.replace("/", "_"))
            if os.path.exists(dest):
                continue
            b = self.get(f"{rel}/{fn}" if rel else fn)
            if b is None:
                raise FileNotFoundError(self._u(f"{rel}/{fn}"))
            with open(dest, "wb") as f:
                f.write(b)
        return d


def _sigv4_sign(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def _sigv4_quote(s: str, safe: str) -> str:
    return urllib.parse.quote(s, safe=safe)


class S3Fetcher:
    """``s3://bucket/prefix`` store access over the public S3 REST API
    (stdlib only).  Path-style requests work against AWS and every
    s3-compatible endpoint (MinIO, Ceph, GCS's XML interop API with
    HMAC keys, localstack test stubs).

    Auth: AWS Signature Version 4 (the public algorithm from the AWS
    docs) when credentials are present — constructor args or the
    standard ``AWS_ACCESS_KEY_ID`` / ``AWS_SECRET_ACCESS_KEY`` /
    ``AWS_SESSION_TOKEN`` environment variables; unsigned (anonymous)
    requests otherwise, which is what public-bucket zarr stores need.
    Endpoint override via ``endpoint=`` or the standard
    ``AWS_ENDPOINT_URL`` env var; region via ``AWS_REGION`` /
    ``AWS_DEFAULT_REGION`` (default ``us-east-1``).

    Unlike plain http, S3 *can* list (ListObjectsV2 with a ``/``
    delimiter), so hierarchy discovery works even without consolidated
    metadata.  Like the other fetchers this is a tiny picklable value
    object: executors sign and fetch their own chunks, so a
    1000-executor cluster pulls 1000 ranges concurrently with no
    driver bottleneck.
    """

    can_list = True

    def __init__(
        self,
        url: str,
        endpoint: str | None = None,
        region: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
        session_token: str | None = None,
        cache_dir: str | None = None,
        timeout: float = 30.0,
    ):
        p = urllib.parse.urlparse(url)
        if p.scheme != "s3" or not p.netloc:
            raise ValueError(f"not an s3 url: {url!r}")
        self.bucket = p.netloc
        self.prefix = p.path.strip("/")
        self.region = region or os.environ.get("AWS_REGION") or os.environ.get("AWS_DEFAULT_REGION") or "us-east-1"
        self.endpoint = (
            endpoint or os.environ.get("AWS_ENDPOINT_URL") or f"https://s3.{self.region}.amazonaws.com"
        ).rstrip("/")
        self.access_key = access_key if access_key is not None else os.environ.get("AWS_ACCESS_KEY_ID")
        self.secret_key = secret_key if secret_key is not None else os.environ.get("AWS_SECRET_ACCESS_KEY")
        self.session_token = session_token if session_token is not None else os.environ.get("AWS_SESSION_TOKEN")
        self.timeout = timeout
        self._cache_dir = cache_dir

    # -- request plumbing ---------------------------------------------------

    def _key(self, rel: str) -> str:
        if self.prefix and rel:
            return f"{self.prefix}/{rel}"
        return rel or self.prefix

    def _request(
        self,
        key: str,
        query: dict[str, str] | None = None,
        method: str = "GET",
        body: bytes | None = None,
        extra_headers: dict[str, str] | None = None,
    ) -> bytes | None:
        return self._request_status(key, query, method, body, extra_headers)[1]

    def _request_status(
        self,
        key: str,
        query: dict[str, str] | None = None,
        method: str = "GET",
        body: bytes | None = None,
        extra_headers: dict[str, str] | None = None,
    ) -> tuple[int, bytes | None]:
        """Signed (or anonymous) request -> ``(status, body)``;
        ``(404, None)`` on NoSuchKey.  The status matters to callers
        like ``get_range`` that must distinguish a 206 partial body
        from a 200 full body.  PUT bodies are signed through
        ``x-amz-content-sha256`` (SigV4 payload hashing), so the stub —
        like real S3 — rejects tampered uploads, not just tampered
        headers."""
        query = dict(query or {})
        path = "/" + self.bucket + (f"/{key}" if key else "")
        canonical_uri = _sigv4_quote(path, safe="/-_.~")
        qs_items = sorted((k, v) for k, v in query.items())
        canonical_query = "&".join(
            f"{_sigv4_quote(k, safe='-_.~')}={_sigv4_quote(v, safe='-_.~')}" for k, v in qs_items
        )
        host = urllib.parse.urlparse(self.endpoint).netloc
        url = f"{self.endpoint}{canonical_uri}" + (f"?{canonical_query}" if canonical_query else "")
        headers = {}
        if self.access_key and self.secret_key:
            now = datetime.datetime.now(datetime.timezone.utc)
            amz_date = now.strftime("%Y%m%dT%H%M%SZ")
            datestamp = now.strftime("%Y%m%d")
            payload_hash = hashlib.sha256(body or b"").hexdigest()
            hdrs = {"host": host, "x-amz-content-sha256": payload_hash, "x-amz-date": amz_date}
            if self.session_token:
                hdrs["x-amz-security-token"] = self.session_token
            signed_headers = ";".join(sorted(hdrs))
            canonical_headers = "".join(f"{k}:{hdrs[k]}\n" for k in sorted(hdrs))
            canonical_request = "\n".join(
                [method, canonical_uri, canonical_query, canonical_headers, signed_headers, payload_hash]
            )
            scope = f"{datestamp}/{self.region}/s3/aws4_request"
            string_to_sign = "\n".join(
                [
                    "AWS4-HMAC-SHA256",
                    amz_date,
                    scope,
                    hashlib.sha256(canonical_request.encode()).hexdigest(),
                ]
            )
            k = _sigv4_sign(b"AWS4" + self.secret_key.encode(), datestamp)
            k = _sigv4_sign(k, self.region)
            k = _sigv4_sign(k, "s3")
            k = _sigv4_sign(k, "aws4_request")
            signature = hmac.new(k, string_to_sign.encode(), hashlib.sha256).hexdigest()
            headers = {
                "x-amz-date": amz_date,
                "x-amz-content-sha256": payload_hash,
                "Authorization": (
                    f"AWS4-HMAC-SHA256 Credential={self.access_key}/{scope}, "
                    f"SignedHeaders={signed_headers}, Signature={signature}"
                ),
            }
            if self.session_token:
                headers["x-amz-security-token"] = self.session_token
        if extra_headers:
            # optional headers (e.g. Range) ride along UNSIGNED — SigV4
            # only requires host/x-amz-* in SignedHeaders
            headers = {**headers, **extra_headers}
        req = urllib.request.Request(url, data=body, headers=headers, method=method)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return 404, None
            raise
        except urllib.error.URLError as e:
            raise IOError(f"cannot fetch {url}: {e}") from e

    # -- fetcher interface --------------------------------------------------

    def get(self, rel: str) -> bytes | None:
        return self._request(self._key(rel))

    def get_json(self, rel: str) -> dict | None:
        b = self.get(rel)
        return None if b is None else json.loads(b)

    def get_range(self, rel: str, start: int, length: int | None = None) -> bytes | None:
        """Range GET (``start < 0`` = suffix range).  A 206 body IS the
        requested slice; a 200 means the endpoint ignored Range and
        returned the FULL object from offset 0, so the slice is cut
        client-side (the status, not a length heuristic, decides —
        ``start>0, length=None`` and short-object cases are otherwise
        indistinguishable)."""
        if start < 0:
            hdr = f"bytes={start}"
        elif length is not None:
            hdr = f"bytes={start}-{start + length - 1}"
        else:
            hdr = f"bytes={start}-"
        status, body = self._request_status(
            self._key(rel), extra_headers={"Range": hdr}
        )
        if body is None:
            return None
        if status == 206:
            return body
        if start < 0:
            return body[start:]
        end = None if length is None else start + length
        return body[start:end]

    def put(self, rel: str, data: bytes) -> None:
        """Signed PUT — the write half of object-store zarr/parquet
        stores; executors upload their own chunks (same no-driver-
        bottleneck contract as reads)."""
        self._request(self._key(rel), method="PUT", body=bytes(data))

    def delete(self, rel: str) -> None:
        self._request(self._key(rel), method="DELETE")

    def _list(self, prefix: str, delimiter: str | None) -> tuple[list[str], list[str]]:
        """ListObjectsV2 with pagination -> (keys, common prefixes)."""
        keys: list[str] = []
        prefixes: list[str] = []
        token: str | None = None
        while True:
            q = {"list-type": "2", "prefix": prefix}
            if delimiter:
                q["delimiter"] = delimiter
            if token:
                q["continuation-token"] = token
            body = self._request("", q)
            if body is None:
                return [], []
            root = ET.fromstring(body)
            ns = root.tag.partition("}")[0] + "}" if root.tag.startswith("{") else ""
            for c in root.findall(f"{ns}Contents"):
                k = c.find(f"{ns}Key")
                if k is not None and k.text:
                    keys.append(k.text)
            for c in root.findall(f"{ns}CommonPrefixes"):
                k = c.find(f"{ns}Prefix")
                if k is not None and k.text:
                    prefixes.append(k.text)
            trunc = root.find(f"{ns}IsTruncated")
            token_el = root.find(f"{ns}NextContinuationToken")
            if trunc is not None and trunc.text == "true" and token_el is not None:
                token = token_el.text
                continue
            return keys, prefixes

    def list_dir(self, rel: str = "") -> list[str] | None:
        key = self._key(rel)
        prefix = f"{key}/" if key else ""
        keys, prefixes = self._list(prefix, "/")
        names = [k[len(prefix) :] for k in keys if k != prefix]
        names += [p[len(prefix) :].rstrip("/") for p in prefixes]
        return sorted(n for n in names if n)

    def is_dir(self, rel: str) -> bool:
        key = self._key(rel)
        keys, prefixes = self._list(f"{key}/" if key else "", "/")
        return bool(keys or prefixes)

    def local_dir(self, rel: str, files: list[str] | None = None) -> str:
        """Download the keys under ``rel`` into a local cache directory
        (the ``simplecache::`` analog).  With no manifest given, the
        listing supplies the file set — s3 can list, http cannot."""
        key = self._key(rel)
        if not files:
            prefix = f"{key}/" if key else ""
            keys, _ = self._list(prefix, None)
            files = [k[len(prefix) :] for k in keys if k != prefix]
            if not files:
                raise FileNotFoundError(f"s3://{self.bucket}/{key}: no objects under prefix")
        tag = hashlib.sha1(f"{self.endpoint}/{self.bucket}/{key}".encode()).hexdigest()[:16]
        d = os.path.join(_cache_dir(self, "sdspark-s3cache-"), tag)
        os.makedirs(d, exist_ok=True)
        for fn in files:
            dest = os.path.join(d, fn.replace("/", "_"))
            if os.path.exists(dest):
                continue
            b = self._request(f"{key}/{fn}" if key else fn)
            if b is None:
                raise FileNotFoundError(f"s3://{self.bucket}/{key}/{fn}")
            with open(dest, "wb") as f:
                f.write(b)
        return d


class GSFetcher:
    """``gs://bucket/prefix`` access to Google Cloud Storage via the
    public JSON/media endpoints (stdlib only): media downloads from
    ``storage.googleapis.com/<bucket>/<object>``, listing from the
    ``storage/v1`` objects API with ``delimiter=/``.

    Private buckets authenticate with a service-account key through
    the stdlib OAuth JWT-bearer flow (``sources/gcs_auth.py``):
    ``credentials`` accepts a key-file path, the parsed key-file dict,
    or a :class:`~spatialdata_spark.sources.gcs_auth.ServiceAccountCredentials`;
    with none given, ``GOOGLE_APPLICATION_CREDENTIALS`` is honored and
    otherwise requests go out anonymous (public buckets).  GCS's
    S3-compatible XML API — HMAC interop keys with
    ``S3Fetcher(endpoint="https://storage.googleapis.com")`` — remains
    the documented alternative."""

    can_list = True

    def __init__(
        self,
        url: str,
        endpoint: str | None = None,
        cache_dir: str | None = None,
        timeout: float = 30.0,
        credentials=None,
        scope: str | None = None,
    ):
        p = urllib.parse.urlparse(url)
        if p.scheme != "gs" or not p.netloc:
            raise ValueError(f"not a gs url: {url!r}")
        self.bucket = p.netloc
        self.prefix = p.path.strip("/")
        self.endpoint = (endpoint or "https://storage.googleapis.com").rstrip("/")
        self.timeout = timeout
        self._cache_dir = cache_dir
        if credentials is None:
            credentials = os.environ.get("GOOGLE_APPLICATION_CREDENTIALS") or None
        if credentials is not None and not hasattr(credentials, "token"):
            from .gcs_auth import GCS_RW_SCOPE, ServiceAccountCredentials

            # this fetcher exposes put(), so auto-built credentials
            # default to the read_write scope — a read_only token gets
            # 403 on every documented upload path.  Pass
            # ``scope=GCS_READ_SCOPE`` for least-privilege readers.
            kw = {"scope": scope or GCS_RW_SCOPE}
            if isinstance(credentials, dict):
                credentials = ServiceAccountCredentials.from_info(credentials, **kw)
            else:
                credentials = ServiceAccountCredentials.from_file(credentials, **kw)
        self.credentials = credentials

    def _key(self, rel: str) -> str:
        if self.prefix and rel:
            return f"{self.prefix}/{rel}"
        return rel or self.prefix

    def _get_url(self, url: str, extra_headers: dict[str, str] | None = None) -> bytes | None:
        return self._get_url_status(url, extra_headers)[1]

    def _get_url_status(
        self, url: str, extra_headers: dict[str, str] | None = None
    ) -> tuple[int, bytes | None]:
        """GET -> ``(status, body)``; ``(404, None)`` when absent.  The
        status lets ``get_range`` distinguish 206 partial content from
        a 200 full body."""
        headers = dict(extra_headers or {})
        if self.credentials is not None:
            headers["Authorization"] = f"Bearer {self.credentials.token()}"
        try:
            req = urllib.request.Request(url, headers=headers)
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return 404, None
            raise
        except urllib.error.URLError as e:
            raise IOError(f"cannot fetch {url}: {e}") from e

    def get(self, rel: str) -> bytes | None:
        key = urllib.parse.quote(self._key(rel), safe="/-_.~")
        return self._get_url(f"{self.endpoint}/{self.bucket}/{key}")

    def get_json(self, rel: str) -> dict | None:
        b = self.get(rel)
        return None if b is None else json.loads(b)

    def get_range(self, rel: str, start: int, length: int | None = None) -> bytes | None:
        if start < 0:
            hdr = f"bytes={start}"
        elif length is not None:
            hdr = f"bytes={start}-{start + length - 1}"
        else:
            hdr = f"bytes={start}-"
        key = urllib.parse.quote(self._key(rel), safe="/-_.~")
        status, body = self._get_url_status(
            f"{self.endpoint}/{self.bucket}/{key}", {"Range": hdr}
        )
        if body is None:
            return None
        if status == 206:
            return body
        # 200: Range ignored, full object returned — slice client-side
        if start < 0:
            return body[start:]
        end = None if length is None else start + length
        return body[start:end]

    def put(self, rel: str, data: bytes) -> None:
        """Media upload through the JSON API (requires credentials —
        GCS has no anonymous writes)."""
        if self.credentials is None:
            raise PermissionError("gs put needs service-account credentials")
        key = urllib.parse.quote(self._key(rel), safe="-_.~")
        url = (
            f"{self.endpoint}/upload/storage/v1/b/{self.bucket}/o"
            f"?uploadType=media&name={key}"
        )
        req = urllib.request.Request(
            url,
            data=bytes(data),
            headers={
                "Authorization": f"Bearer {self.credentials.token()}",
                "Content-Type": "application/octet-stream",
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as r:
            r.read()

    def _list(self, prefix: str, delimiter: str | None) -> tuple[list[str], list[str]]:
        items: list[str] = []
        prefixes: list[str] = []
        token: str | None = None
        while True:
            q = {"prefix": prefix}
            if delimiter:
                q["delimiter"] = delimiter
            if token:
                q["pageToken"] = token
            url = f"{self.endpoint}/storage/v1/b/{self.bucket}/o?{urllib.parse.urlencode(q)}"
            b = self._get_url(url)
            if b is None:
                return [], []
            doc = json.loads(b)
            items += [it["name"] for it in doc.get("items", [])]
            prefixes += doc.get("prefixes", [])
            token = doc.get("nextPageToken")
            if not token:
                return items, prefixes

    def list_dir(self, rel: str = "") -> list[str] | None:
        key = self._key(rel)
        prefix = f"{key}/" if key else ""
        keys, prefixes = self._list(prefix, "/")
        names = [k[len(prefix) :] for k in keys if k != prefix]
        names += [p[len(prefix) :].rstrip("/") for p in prefixes]
        return sorted(n for n in names if n)

    def is_dir(self, rel: str) -> bool:
        key = self._key(rel)
        keys, prefixes = self._list(f"{key}/" if key else "", "/")
        return bool(keys or prefixes)

    def local_dir(self, rel: str, files: list[str] | None = None) -> str:
        key = self._key(rel)
        if not files:
            prefix = f"{key}/" if key else ""
            keys, _ = self._list(prefix, None)
            files = [k[len(prefix) :] for k in keys if k != prefix]
            if not files:
                raise FileNotFoundError(f"gs://{self.bucket}/{key}: no objects under prefix")
        tag = hashlib.sha1(f"{self.endpoint}/{self.bucket}/{key}".encode()).hexdigest()[:16]
        d = os.path.join(_cache_dir(self, "sdspark-gscache-"), tag)
        os.makedirs(d, exist_ok=True)
        for fn in files:
            dest = os.path.join(d, fn.replace("/", "_"))
            if os.path.exists(dest):
                continue
            b = self.get(f"{rel}/{fn}" if rel else fn)
            if b is None:
                raise FileNotFoundError(f"gs://{self.bucket}/{key}/{fn}")
            with open(dest, "wb") as f:
                f.write(b)
        return d


def fetcher_for(path_or_url: str):
    """Dispatch a store location string to the right fetcher."""
    if path_or_url.startswith(("http://", "https://")):
        return HttpFetcher(path_or_url)
    if path_or_url.startswith("s3://"):
        return S3Fetcher(path_or_url)
    if path_or_url.startswith("gs://"):
        return GSFetcher(path_or_url)
    return LocalFetcher(path_or_url)
