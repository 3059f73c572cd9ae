"""Connection layer — named storage/endpoint configs that resolve
relative paths to engine URIs and produce the Spark conf/options needed
to talk to each backend.

Parity target (reference: odibi/connections/ — base.py:9 BaseConnection
with get_path/validate, local.py:24 LocalConnection URI detection,
azure_adls.py:28 AzureADLS multi-mode auth, azure_sql.py / postgres.py
JDBC, http.py + factory.py:27 api-key value_template validation,
unity_catalog.py, factory.py + plugins register_connection_factory).

Spark-first re-expression: a connection is (a) a path resolver
(``get_path``), (b) a bag of reader/writer options (``spark_options``),
and (c) session-level Spark conf (``spark_conf``, e.g. ADLS auth keys —
the ``spark.conf.set("fs.azure.account.key...")`` idiom). Cloud auth
modes that require vendor SDKs (Key Vault, managed identity) validate
their config shape offline and raise a clear gated error only when a
secret actually has to be fetched — this container has no cloud access.
"""

from __future__ import annotations

import posixpath
from abc import ABC, abstractmethod
from typing import Any, Callable, Dict

__all__ = [
    "Connection",
    "LocalConnection",
    "ADLSConnection",
    "PostgresConnection",
    "AzureSQLConnection",
    "HttpConnection",
    "UnityCatalogConnection",
    "create_connection",
    "register_connection_factory",
    "build_connections",
]


class Connection(ABC):
    """Resolve names to engine paths + supply Spark conf/options."""

    sql_dialect: str = ""
    default_schema: str = ""

    @abstractmethod
    def get_path(self, relative_path: str) -> str:
        """Full path/URI/identifier for a relative path or table name."""

    def validate(self) -> None:
        """Raise ValueError on a bad config. Default: accept."""

    def spark_conf(self) -> Dict[str, str]:
        """Session confs to set before reading (e.g. fs.azure auth)."""
        return {}

    def spark_options(self) -> Dict[str, str]:
        """Reader/writer options to merge into every read/write."""
        return {}

    # -------- discovery API (reference base.py:33-115; optional) --------
    # Driver-side metadata tooling: catalog listings, schemas, previews.
    # At cluster scale these read footers/samples, never full tables.

    def discover_catalog(self, **kwargs) -> Dict[str, Any]:
        raise NotImplementedError(f"{type(self).__name__} does not support discovery")

    def get_schema(self, dataset: str) -> Dict[str, Any]:
        raise NotImplementedError(f"{type(self).__name__} does not support get_schema")

    def preview(self, dataset: str, rows: int = 5, columns=None) -> Dict[str, Any]:
        raise NotImplementedError(f"{type(self).__name__} does not support preview")

    def profile(self, dataset: str, sample_rows: int = 1000, columns=None) -> Dict[str, Any]:
        raise NotImplementedError(f"{type(self).__name__} does not support profiling")

    def get_freshness(self, dataset: str, timestamp_column: str | None = None) -> Dict[str, Any]:
        raise NotImplementedError(f"{type(self).__name__} does not support freshness")


def _is_uri(path: str) -> bool:
    # "scheme://..." or "dbfs:/..." are URIs; windows drive letters
    # ("C:/x") are not (reference local.py:46-49: scheme longer than one
    # char distinguishes dbfs:/ from C:/).
    if "://" in path:
        return True
    if ":/" in path:
        return len(path.split(":/")[0]) > 1
    return False


class LocalConnection(Connection):
    """Local filesystem or passthrough-URI base path (file://, dbfs:/)."""

    def __init__(self, base_path: str = "./data"):
        self.base_path = base_path
        self.is_uri = _is_uri(base_path)

    def get_path(self, relative_path: str) -> str:
        if _is_uri(relative_path) or relative_path.startswith("/"):
            return relative_path  # already absolute
        base = self.base_path.rstrip("/")
        return f"{base}/{relative_path.lstrip('/')}"

    # -------- discovery (reference local.py discover/schema/preview/
    # profile/freshness; detect_file_format/detect_partitions in
    # odibi/discovery/utils.py). Footer/sample reads only.

    _DATA_EXTS = (".parquet", ".csv", ".json", ".orc", ".tsv")

    def _dataset_entries(self, root: str, pattern: str, recursive: bool):
        import fnmatch
        import os

        for dirpath, dirnames, filenames in os.walk(root):
            # a directory of part-files or a commit log is ONE dataset
            if any(f.startswith("part-") or f == "_SUCCESS" for f in filenames) or "_log" in dirnames:
                name = os.path.relpath(dirpath, root)
                fmt = next(
                    (
                        f.rsplit(".", 1)[-1]
                        for f in sorted(filenames)
                        if f.startswith("part-") and "." in f and not f.endswith(".crc")
                    ),
                    "parquet",
                )
                size = sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in filenames
                )
                if not pattern or fnmatch.fnmatch(name, pattern):
                    yield {"name": name, "path": dirpath, "format": fmt, "size_bytes": size}
                dirnames.clear()  # don't descend into part files
                continue
            for f in sorted(filenames):
                if f.endswith(self._DATA_EXTS) and not f.startswith("_"):
                    rel = os.path.relpath(os.path.join(dirpath, f), root)
                    if pattern and not fnmatch.fnmatch(rel, pattern) and not fnmatch.fnmatch(f, pattern):
                        continue
                    yield {
                        "name": rel,
                        "path": os.path.join(dirpath, f),
                        "format": f.rsplit(".", 1)[-1],
                        "size_bytes": os.path.getsize(os.path.join(dirpath, f)),
                    }
            if not recursive:
                dirnames.clear()

    def discover_catalog(
        self,
        include_schema: bool = False,
        limit: int = 200,
        recursive: bool = True,
        path: str = "",
        pattern: str = "",
        **_: Any,
    ) -> Dict[str, Any]:
        """List datasets (files + spark output dirs) under the base path."""
        import os

        root = self.get_path(path) if path else self.base_path
        if self.is_uri:
            raise NotImplementedError("discovery over URI base paths needs a filesystem client")
        datasets = []
        for entry in self._dataset_entries(os.path.abspath(root), pattern, recursive):
            if include_schema:
                try:
                    entry["schema"] = self.get_schema(entry["path"])["columns"]
                except Exception as ex:  # noqa: BLE001 — listing shouldn't die on one bad file
                    entry["schema_error"] = str(ex)
            datasets.append(entry)
            if len(datasets) >= limit:
                break
        return {"base_path": str(root), "count": len(datasets), "datasets": datasets}

    def _read_sample(self, dataset: str, rows: int):
        """A small pandas sample without scanning the whole dataset."""
        import glob
        import os

        import pyarrow.parquet as pq

        p = self.get_path(dataset)
        candidates = [p]
        if os.path.isdir(p):
            candidates = sorted(glob.glob(os.path.join(p, "part-*")))
            if not candidates:
                raise FileNotFoundError(f"no part files under {p}")
            p = candidates[0]
        if p.endswith(".parquet") or "part-" in os.path.basename(p):
            # a many-partition write leaves empty part files; skip them
            # until a batch materializes (empty dataset → empty frame)
            pf = None
            for part in candidates:
                pf = pq.ParquetFile(part)
                batch = next(pf.iter_batches(batch_size=rows), None)
                if batch is not None:
                    return batch.to_pandas()
            return pf.schema_arrow.empty_table().to_pandas()
        import pandas as pd

        if p.endswith((".csv", ".tsv")):
            return pd.read_csv(p, sep="\t" if p.endswith(".tsv") else ",", nrows=rows)
        if p.endswith(".json"):
            return pd.read_json(p, lines=True, nrows=rows)
        raise ValueError(f"unsupported dataset for sampling: {p}")

    def get_schema(self, dataset: str) -> Dict[str, Any]:
        import glob
        import os

        import pyarrow.parquet as pq

        p = self.get_path(dataset)
        target = p
        if os.path.isdir(p):
            parts = sorted(glob.glob(os.path.join(p, "part-*.parquet")))
            target = parts[0] if parts else p
        if target.endswith(".parquet"):
            s = pq.read_schema(target)
            cols = [{"name": n, "type": str(s.field(n).type)} for n in s.names]
            return {"dataset": dataset, "format": "parquet", "columns": cols}
        pdf = self._read_sample(dataset, rows=100)
        cols = [{"name": c, "type": str(t)} for c, t in pdf.dtypes.items()]
        return {"dataset": dataset, "format": target.rsplit(".", 1)[-1], "columns": cols}

    def preview(self, dataset: str, rows: int = 5, columns=None) -> Dict[str, Any]:
        pdf = self._read_sample(dataset, rows=rows)
        if columns:
            pdf = pdf[list(columns)]
        pdf = pdf.head(rows)
        return {
            "dataset": dataset,
            "columns": list(pdf.columns),
            "rows": pdf.astype(object).where(pdf.notna(), None).values.tolist(),
        }

    def profile(self, dataset: str, sample_rows: int = 1000, columns=None) -> Dict[str, Any]:
        """Row count from parquet metadata (no scan) + sampled column stats."""
        import glob
        import os

        import pyarrow.parquet as pq

        p = self.get_path(dataset)
        row_count = None
        files = (
            sorted(glob.glob(os.path.join(p, "part-*.parquet")))
            if os.path.isdir(p)
            else [p]
        )
        if files and files[0].endswith(".parquet"):
            row_count = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        pdf = self._read_sample(dataset, rows=sample_rows)
        if columns:
            pdf = pdf[list(columns)]
        stats = {}
        for c in pdf.columns:
            s = pdf[c]
            col = {"nulls_in_sample": int(s.isna().sum()),
                   "distinct_in_sample": int(s.nunique())}
            if s.dtype.kind in "ifuM":
                col["min"] = None if s.isna().all() else str(s.min())
                col["max"] = None if s.isna().all() else str(s.max())
            stats[c] = col
        return {
            "dataset": dataset,
            "row_count": row_count,
            "sampled_rows": int(len(pdf)),
            "columns": stats,
        }

    def get_freshness(self, dataset: str, timestamp_column: str | None = None) -> Dict[str, Any]:
        import datetime
        import glob
        import os

        p = self.get_path(dataset)
        files = (
            [os.path.join(dp, f) for dp, _, fs in os.walk(p) for f in fs]
            if os.path.isdir(p)
            else [p]
        )
        mtime = max(os.path.getmtime(f) for f in files)
        out: Dict[str, Any] = {
            "dataset": dataset,
            "modified_at": datetime.datetime.fromtimestamp(
                mtime, tz=datetime.timezone.utc
            ).isoformat(),
            "age_hours": round(
                (datetime.datetime.now(tz=datetime.timezone.utc).timestamp() - mtime) / 3600,
                3,
            ),
        }
        if timestamp_column:
            import pyarrow.parquet as pq

            target = (
                sorted(glob.glob(os.path.join(p, "part-*.parquet")))[-1]
                if os.path.isdir(p)
                else p
            )
            col = pq.read_table(target, columns=[timestamp_column])[timestamp_column]
            import pyarrow.compute as pc

            out["max_" + timestamp_column] = str(pc.max(col).as_py())
        return out


class ADLSConnection(Connection):
    """Azure Data Lake Gen2: abfss:// URI builder + auth conf.

    Auth modes (reference azure_adls.py:36-44): direct_key, sas_token,
    service_principal are expressible as pure Spark conf; key_vault and
    managed_identity need vendor SDKs and are gated.
    """

    _MODES = ("direct_key", "sas_token", "service_principal", "key_vault", "managed_identity")

    def __init__(
        self,
        account: str,
        container: str,
        path_prefix: str = "",
        auth_mode: str = "direct_key",
        account_key: str | None = None,
        sas_token: str | None = None,
        tenant_id: str | None = None,
        client_id: str | None = None,
        client_secret: str | None = None,
        key_vault_name: str | None = None,
        secret_name: str | None = None,
    ):
        self.account = account
        self.container = container
        self.path_prefix = path_prefix.strip("/") if path_prefix else ""
        self.auth_mode = auth_mode
        self.account_key = account_key
        self.sas_token = sas_token
        self.tenant_id = tenant_id
        self.client_id = client_id
        self.client_secret = client_secret
        self.key_vault_name = key_vault_name
        self.secret_name = secret_name
        self.validate()

    @property
    def _host(self) -> str:
        return f"{self.account}.dfs.core.windows.net"

    def validate(self) -> None:
        if not self.account or not self.container:
            raise ValueError("ADLS connection requires 'account' and 'container'")
        if self.auth_mode not in self._MODES:
            raise ValueError(f"unknown auth_mode '{self.auth_mode}'; one of {self._MODES}")
        required = {
            "direct_key": ["account_key"],
            "sas_token": ["sas_token"],
            "service_principal": ["tenant_id", "client_id", "client_secret"],
            "key_vault": ["key_vault_name", "secret_name"],
            "managed_identity": [],
        }[self.auth_mode]
        missing = [f for f in required if not getattr(self, f)]
        if missing:
            raise ValueError(
                f"ADLS auth_mode '{self.auth_mode}' requires {missing} "
                f"for {self.account}/{self.container}"
            )

    def get_path(self, relative_path: str) -> str:
        rel = relative_path.lstrip("/")
        parts = [p for p in (self.path_prefix, rel) if p]
        return f"abfss://{self.container}@{self._host}/" + posixpath.join(*parts)

    def spark_conf(self) -> Dict[str, str]:
        h = self._host
        if self.auth_mode == "direct_key":
            return {f"fs.azure.account.key.{h}": self.account_key}
        if self.auth_mode == "sas_token":
            return {
                f"fs.azure.account.auth.type.{h}": "SAS",
                f"fs.azure.sas.token.provider.type.{h}": (
                    "org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider"
                ),
                f"fs.azure.sas.fixed.token.{h}": self.sas_token,
            }
        if self.auth_mode == "service_principal":
            return {
                f"fs.azure.account.auth.type.{h}": "OAuth",
                f"fs.azure.account.oauth.provider.type.{h}": (
                    "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider"
                ),
                f"fs.azure.account.oauth2.client.id.{h}": self.client_id,
                f"fs.azure.account.oauth2.client.secret.{h}": self.client_secret,
                f"fs.azure.account.oauth2.client.endpoint.{h}": (
                    f"https://login.microsoftonline.com/{self.tenant_id}/oauth2/token"
                ),
            }
        raise NotImplementedError(
            f"ADLS auth_mode '{self.auth_mode}' needs vendor SDKs (Key Vault / "
            "IMDS) that are not available in this environment; use direct_key, "
            "sas_token, or service_principal, or fetch the secret yourself and "
            "pass account_key."
        )


class _JdbcConnection(Connection):
    """Shared JDBC option builder (execution needs a driver jar —
    absent here, so reads through these are environment-gated; the
    option/url construction is the testable contract)."""

    driver: str = ""

    def __init__(self, host: str, database: str, user: str, password: str, port: int | None = None):
        self.host = host
        self.database = database
        self.user = user
        self.password = password
        self.port = port or self.default_port
        self.validate()

    default_port = 0

    @property
    def url(self) -> str:
        raise NotImplementedError

    def validate(self) -> None:
        missing = [f for f in ("host", "database", "user", "password") if not getattr(self, f)]
        if missing:
            raise ValueError(f"{type(self).__name__} missing {missing}")

    def get_path(self, relative_path: str) -> str:
        # JDBC "paths" are table identifiers, optionally schema-qualified
        if "." in relative_path or not self.default_schema:
            return relative_path
        return f"{self.default_schema}.{relative_path}"

    def spark_options(self) -> Dict[str, str]:
        return {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
        }


class PostgresConnection(_JdbcConnection):
    sql_dialect = "postgres"
    default_schema = "public"
    default_port = 5432
    driver = "org.postgresql.Driver"

    @property
    def url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"


class AzureSQLConnection(_JdbcConnection):
    sql_dialect = "tsql"
    default_schema = "dbo"
    default_port = 1433
    driver = "com.microsoft.sqlserver.jdbc.SQLServerDriver"

    def __init__(self, server: str, database: str, user: str, password: str, port: int | None = None):
        host = server if "." in server else f"{server}.database.windows.net"
        super().__init__(host, database, user, password, port)

    @property
    def url(self) -> str:
        return (
            f"jdbc:sqlserver://{self.host}:{self.port};"
            f"database={self.database};encrypt=true;trustServerCertificate=false;"
            "loginTimeout=30;"
        )


class HttpConnection(Connection):
    """HTTP API endpoint; composes with sources/api.py ApiSource.

    Api-key auth renders ``value_template`` ("Bearer {token}") into a
    header (reference factory.py:34-61 validates exactly one literal
    ``{token}`` placeholder).
    """

    def __init__(
        self,
        base_url: str,
        headers: Dict[str, str] | None = None,
        auth: Dict[str, Any] | None = None,
    ):
        self.base_url = base_url.rstrip("/")
        self.headers = dict(headers or {})
        self.auth = auth
        self.validate()

    def validate(self) -> None:
        if not self.base_url:
            raise ValueError("HTTP connection requires 'base_url'")
        if isinstance(self.auth, dict) and self.auth.get("mode") == "api_key":
            api_key = self.auth.get("api_key")
            if not isinstance(api_key, str) or not api_key:
                raise ValueError("HTTP api_key auth requires a non-empty 'api_key'")
            tmpl = self.auth.get("value_template", "Bearer {token}")
            err = (
                "value_template must contain exactly one literal '{token}' "
                "placeholder and no other braces"
            )
            if not isinstance(tmpl, str) or tmpl.count("{token}") != 1:
                raise ValueError(err)
            rest = tmpl.replace("{token}", "", 1)
            if "{" in rest or "}" in rest:
                raise ValueError(err)

    def get_path(self, relative_path: str) -> str:
        if relative_path.startswith(("http://", "https://")):
            return relative_path
        return f"{self.base_url}/{relative_path.lstrip('/')}"

    def request_headers(self) -> Dict[str, str]:
        headers = dict(self.headers)
        if isinstance(self.auth, dict) and self.auth.get("mode") == "api_key":
            tmpl = self.auth.get("value_template", "Bearer {token}")
            headers[self.auth.get("header_name", "Authorization")] = tmpl.replace(
                "{token}", self.auth["api_key"], 1
            )
        return headers


class UnityCatalogConnection(Connection):
    """Three-part table identifiers: catalog.schema.table."""

    def __init__(self, catalog: str, schema: str = "default"):
        self.catalog = catalog
        self.schema = schema
        self.validate()

    def validate(self) -> None:
        if not self.catalog:
            raise ValueError("unity_catalog connection requires 'catalog'")

    def get_path(self, relative_path: str) -> str:
        n_parts = relative_path.count(".") + 1
        if n_parts >= 3:
            return relative_path
        if n_parts == 2:
            return f"{self.catalog}.{relative_path}"
        return f"{self.catalog}.{self.schema}.{relative_path}"


# ---------------------------------------------------------------------------
# factory + plugin hook (reference: connections/factory.py, plugins
# register_connection_factory)

_FACTORIES: Dict[str, Callable[[str, Dict[str, Any]], Connection]] = {}


def register_connection_factory(
    conn_type: str, factory: Callable[[str, Dict[str, Any]], Connection]
) -> None:
    """Plugin hook: register/override a connection type by name."""
    _FACTORIES[conn_type] = factory


def _builtin(conn_type: str, cls, **aliases):
    def factory(name: str, config: Dict[str, Any]) -> Connection:
        cfg = dict(config)
        for alt, canonical in aliases.items():
            if alt in cfg and canonical not in cfg:
                cfg[canonical] = cfg.pop(alt)
        try:
            return cls(**cfg)
        except TypeError as ex:
            raise ValueError(f"connection '{name}' ({conn_type}): {ex}") from None

    register_connection_factory(conn_type, factory)


_builtin("local", LocalConnection)
_builtin("adls", ADLSConnection, account_name="account")
_builtin("azure_blob", ADLSConnection, account_name="account")
_builtin("postgres", PostgresConnection)
_builtin("azure_sql", AzureSQLConnection)
_builtin("http", HttpConnection)
_builtin("unity_catalog", UnityCatalogConnection)


def create_connection(conn_type: str, config: Dict[str, Any], name: str = "") -> Connection:
    if conn_type not in _FACTORIES:
        raise ValueError(
            f"unknown connection type '{conn_type}'; known: {sorted(_FACTORIES)}"
        )
    conn = _FACTORIES[conn_type](name or conn_type, config)
    conn.validate()
    return conn


def build_connections(configs: Dict[str, Any]) -> Dict[str, Connection]:
    """Materialize a pipeline's ``connections:`` section."""
    out: Dict[str, Connection] = {}
    for name, cc in (configs or {}).items():
        d = cc.model_dump() if hasattr(cc, "model_dump") else dict(cc)
        conn_type = d.pop("type")
        nested = d.pop("config", None)
        params = nested if isinstance(nested, dict) else d
        out[name] = create_connection(conn_type, params, name)
    return out
