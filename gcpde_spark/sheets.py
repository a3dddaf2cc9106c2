"""Worksheet-style small-table I/O — reference gcpde/sheets.py, Spark-native.

Operator parity map (SURVEY.md §2A):

- H1 read_sheet                     ≙ gcpde/sheets.py:216-253
- H2 read_sheets                    ≙ gcpde/sheets.py:256-286
- H3 replace_from_records           ≙ gcpde/sheets.py:86-117
- H4 replace_or_create_from_records ≙ gcpde/sheets.py:120-169
- H5 list_worksheets / delete_worksheet ≙ gcpde/sheets.py:172-213

Design: worksheets are dimension-sized (thousands of rows, not billions),
so all I/O is driver-side against a pluggable backend whose surface
mirrors the gspread objects the reference drives (`worksheet(name)`,
`add_worksheet`, `resize`, `clear`, `update(values, range_name)`,
`get_all_records`). Production would plug a gspread-backed
:class:`SheetBackend`; the bundled :class:`InMemorySheetBackend` keeps
tests hermetic, exactly as the reference's unit tests mock gspread
(tests/unit/test_sheets.py:23).

The Spark boundary: ``read_sheet_df`` returns the worksheet as an
all-``StringType`` DataFrame (the coercion contract makes every value
``str | None``, SURVEY.md §1.1 "Worksheet"), ready to broadcast-join
against fact tables; ``replace_from_df`` collects a (small) DataFrame
into a worksheet.
"""

from __future__ import annotations

import warnings
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from gcpde_spark.errors import EngineException
from gcpde_spark.records import records_to_dataframe


class WorksheetNotFound(EngineException):
    """≙ gspread.exceptions.WorksheetNotFound (gcpde/sheets.py:146,211-213)."""


class Worksheet:
    """An in-memory worksheet: a rectangular grid of cell values.

    Mirrors the slice of the gspread Worksheet surface the reference uses
    (gcpde/sheets.py:115-116,149-166,245-248).
    """

    def __init__(self, title: str, rows: int = 100, cols: int = 26):
        self.title = title
        self.row_count = rows
        self.col_count = cols
        self._values: list[list[Any]] = []

    # -- gspread-shaped API -------------------------------------------------

    def clear(self) -> None:
        self._values = []

    def resize(self, rows: int, cols: int) -> None:
        self.row_count = rows
        self.col_count = cols

    def update(self, values: list[list[Any]], range_name: str = "A1") -> None:
        if range_name != "A1":  # the reference only ever writes at A1
            raise NotImplementedError("only A1-anchored updates are supported")
        self._values = [list(row) for row in values]
        self.row_count = max(self.row_count, len(values))
        self.col_count = max(self.col_count, max((len(r) for r in values), default=0))

    def get_all_values(self) -> list[list[Any]]:
        return [list(row) for row in self._values]

    def get_all_records(
        self, head: int = 1, expected_headers: list[str] | None = None
    ) -> list[dict[str, Any]]:
        """Rows below the header row as dicts (gspread semantics: row
        ``head`` — 1-based — provides the keys)."""
        values = self._values
        if len(values) < head:
            return []
        headers = [str(h) for h in values[head - 1]]
        if expected_headers is not None:
            if len(set(expected_headers)) != len(expected_headers):
                raise ValueError("expected_headers must be unique")
            missing = set(expected_headers) - set(headers)
            if missing:
                raise ValueError(f"expected_headers not found in sheet: {sorted(missing)}")
        out = []
        for row in values[head:]:
            padded = list(row) + [""] * (len(headers) - len(row))
            out.append(dict(zip(headers, padded)))
        return out


class Document:
    """An in-memory spreadsheet document: a set of named worksheets."""

    def __init__(self, document_id: str):
        self.document_id = document_id
        self._sheets: dict[str, Worksheet] = {}

    def worksheet(self, sheet_name: str) -> Worksheet:
        if sheet_name not in self._sheets:
            raise WorksheetNotFound(sheet_name)
        return self._sheets[sheet_name]

    def worksheets(self) -> list[Worksheet]:
        return list(self._sheets.values())

    def add_worksheet(self, title: str, rows: int, cols: int) -> Worksheet:
        ws = Worksheet(title, rows=rows, cols=cols)
        self._sheets[title] = ws
        return ws

    def del_worksheet(self, ws: Worksheet) -> None:
        self._sheets.pop(ws.title, None)


class InMemorySheetBackend:
    """Hermetic backend: documents spring into existence on first open."""

    def __init__(self) -> None:
        self._documents: dict[str, Document] = {}

    def open_document(self, document_id: str) -> Document:
        if document_id not in self._documents:
            self._documents[document_id] = Document(document_id)
        return self._documents[document_id]


class GspreadSheetBackend:
    """Real Google Sheets backend over gspread (auth parity with the
    reference's scoped service-account client, gcpde/sheets.py:21-56).

    gspread's ``Spreadsheet``/``Worksheet`` objects natively provide the
    surface :class:`SheetStore` drives (``worksheet``, ``add_worksheet``,
    ``del_worksheet``, ``clear``, ``resize``, ``update``,
    ``get_all_records``), so this backend is authentication plus
    exception translation — :class:`_GspreadDocument` maps gspread's
    ``WorksheetNotFound`` onto the engine's.

    Import-gated: gspread does not ship in the sandbox, so the import
    happens at construction and raises :class:`EngineException` with the
    missing dependency named. Credentials are constructor-injected
    (a ``google.auth`` credentials object) — this module never reads key
    files or ambient ADC itself. Scope handling has reference parity
    (gcpde/sheets.py:30-52): scopable credentials missing the Sheets
    scopes get them injected via ``with_scopes``; unscopable ones pass
    through with a warning. Pass ``client`` to supply a pre-authorized
    (or fake, in tests) gspread-shaped client.
    """

    #: OAuth scopes the reference requests (gcpde/sheets.py:14-18).
    SCOPES = (
        "https://spreadsheets.google.com/feeds",
        "https://www.googleapis.com/auth/spreadsheets",
        "https://www.googleapis.com/auth/drive",
    )
    #: either of these satisfies the "already scoped for Sheets" check
    #: (gcpde/sheets.py:33-38).
    _SUFFICIENT_SCOPES = frozenset(
        {
            "https://www.googleapis.com/auth/spreadsheets",
            "https://spreadsheets.google.com/feeds",
        }
    )

    @classmethod
    def _resolve_credentials(cls, credentials: Any) -> Any:
        """≙ the reference's needs_scopes branch (gcpde/sheets.py:30-52).

        Scopable credentials (duck-typed on ``with_scopes``, the
        ``google.auth.credentials.Scoped`` surface) that lack a Sheets
        scope are re-scoped; unscopable credentials are passed through
        with a warning naming the required scope.
        """
        scopable = callable(getattr(credentials, "with_scopes", None))
        if scopable:
            have = set(getattr(credentials, "scopes", None) or ())
            if have & cls._SUFFICIENT_SCOPES:
                return credentials
            return credentials.with_scopes(list(cls.SCOPES))
        warnings.warn(
            "Credentials do not support scoping. Ensure they were obtained "
            "with the required Google Sheets scopes: "
            "https://www.googleapis.com/auth/spreadsheets",
            stacklevel=3,
        )
        return credentials

    def __init__(self, credentials: Any = None, client: Any = None):
        if client is not None:
            self._client = client
        else:
            try:
                import gspread
            except ImportError as exc:  # pragma: no cover — sandbox has no gspread
                raise EngineException(
                    "GspreadSheetBackend requires the 'gspread' package; "
                    "install it or use InMemorySheetBackend"
                ) from exc
            if credentials is None:
                raise EngineException(
                    "GspreadSheetBackend needs credentials "
                    f"(scopes: {list(self.SCOPES)}) or an explicit client"
                )
            self._client = gspread.authorize(self._resolve_credentials(credentials))

    def open_document(self, document_id: str) -> "_GspreadDocument":
        return _GspreadDocument(self._client.open_by_key(document_id), document_id)


class _GspreadDocument:
    """Adapter translating gspread exceptions to engine exceptions; all
    other calls pass straight through to the gspread Spreadsheet."""

    def __init__(self, spreadsheet: Any, document_id: str):
        self._ss = spreadsheet
        self.document_id = document_id

    def worksheet(self, sheet_name: str) -> Any:
        try:
            return self._ss.worksheet(sheet_name)
        except Exception as exc:
            if type(exc).__name__ == "WorksheetNotFound":
                raise WorksheetNotFound(sheet_name) from exc
            raise

    def worksheets(self) -> list[Any]:
        return list(self._ss.worksheets())

    def add_worksheet(self, title: str, rows: int, cols: int) -> Any:
        return self._ss.add_worksheet(title=title, rows=rows, cols=cols)

    def del_worksheet(self, ws: Any) -> None:
        self._ss.del_worksheet(ws)


class SheetStore:
    """H1–H5 over a backend, plus the DataFrame boundary."""

    def __init__(self, spark: SparkSession, backend: Any = None):
        # any object with open_document(document_id) -> document exposing
        # the gspread-shaped surface: InMemorySheetBackend (hermetic) or
        # GspreadSheetBackend (real Sheets)
        self.spark = spark
        self.backend = backend or InMemorySheetBackend()

    # -- H1/H2: reads --------------------------------------------------------

    def read_sheet(
        self,
        document_id: str,
        sheet_name: str,
        head: int = 1,
        expected_headers: list[str] | None = None,
    ) -> list[dict[str, str | None]]:
        """Worksheet → records with the all-string coercion contract
        (≙ gcpde/sheets.py:216-253): every value becomes ``str(value)``,
        and empty strings become ``None`` (`str(value) or None`,
        :250-253; golden tests tests/unit/test_sheets.py:184-219)."""
        ws = self.backend.open_document(document_id).worksheet(sheet_name)
        records = ws.get_all_records(head=head, expected_headers=expected_headers)
        return [
            {key: (str(value) or None) for key, value in record.items()}
            for record in records
        ]

    def read_sheets(
        self, document_id: str, sheet_names: list[str] | None = None
    ) -> dict[str, list[dict[str, str | None]]]:
        """All (or named) worksheets → {name: records} (≙ gcpde/sheets.py:256-286)."""
        if sheet_names is None:
            sheet_names = [ws.title for ws in self.list_worksheets(document_id)]
        return {name: self.read_sheet(document_id, name) for name in sheet_names}

    def read_sheet_df(
        self,
        document_id: str,
        sheet_name: str,
        head: int = 1,
        expected_headers: list[str] | None = None,
    ) -> DataFrame:
        """Worksheet → all-StringType DataFrame (SURVEY.md §1.1): the
        engine-native form of H1, sized for `F.broadcast` dimension joins."""
        records = self.read_sheet(document_id, sheet_name, head, expected_headers)
        columns: list[str] = []
        for rec in records:
            for k in rec:
                if k not in columns:
                    columns.append(k)
        schema = StructType([StructField(c, StringType(), True) for c in columns])
        return records_to_dataframe(self.spark, records, schema)

    # -- H3/H4: writes -------------------------------------------------------

    def replace_from_records(
        self,
        document_id: str,
        sheet_name: str,
        records: list[dict[str, Any]],
        columns: list[str],
    ) -> None:
        """Clear the worksheet; write header + rows projected to ``columns``
        order at A1 (≙ gcpde/sheets.py:86-117; projection :115 — a record
        missing a column raises KeyError, like the reference's ``r[c]``)."""
        ws = self.backend.open_document(document_id).worksheet(sheet_name)
        ws.clear()
        rows = [[r[c] for c in columns] for r in records]
        ws.update(values=[list(columns)] + rows, range_name="A1")

    def replace_or_create_from_records(
        self,
        document_id: str,
        sheet_name: str,
        records: list[dict[str, Any]],
        columns: list[str],
        min_rows: int = 100,
    ) -> Worksheet:
        """Create the worksheet if missing (rows = max(min_rows, n+1)) or
        grow-resize it, then clear + write (≙ gcpde/sheets.py:120-169,
        create/resize choreography :149-161)."""
        doc = self.backend.open_document(document_id)
        required_rows = len(records) + 1
        try:
            ws = doc.worksheet(sheet_name)
        except WorksheetNotFound:
            ws = doc.add_worksheet(
                title=sheet_name,
                rows=max(min_rows, required_rows),
                cols=len(columns),
            )
        else:
            ws.resize(
                rows=max(ws.row_count, min_rows, required_rows),
                cols=max(ws.col_count, len(columns)),
            )
        ws.clear()
        ws.update(
            values=[list(columns)] + [[r[c] for c in columns] for r in records],
            range_name="A1",
        )
        return ws

    def replace_from_df(
        self, document_id: str, sheet_name: str, df: DataFrame, min_rows: int = 100
    ) -> Worksheet:
        """DataFrame → worksheet (driver-side sink; worksheet-sized data)."""
        records = [row.asDict() for row in df.collect()]
        return self.replace_or_create_from_records(
            document_id, sheet_name, records, df.columns, min_rows=min_rows
        )

    # -- H5: worksheet management --------------------------------------------

    def list_worksheets(self, document_id: str) -> list[Worksheet]:
        """≙ gcpde/sheets.py:172-190."""
        return self.backend.open_document(document_id).worksheets()

    def delete_worksheet(self, document_id: str, sheet_name: str) -> None:
        """≙ gcpde/sheets.py:193-213 — raises WorksheetNotFound if absent."""
        doc = self.backend.open_document(document_id)
        doc.del_worksheet(doc.worksheet(sheet_name))
