"""Stateless per-document predicate checks — pure Column expressions, all
inside whole-stage codegen (SURVEY.md §2.5-2.9).

Reference analogs:
  name rules            src/modules/stats.zig:25-63 (doubled chars),
                        :219-239 (length), :242-287 (unportable chars)
  temp/useless tags     src/modules/useless.zig (ext map, exact names,
                        prefix/suffix pairs, path fragments)
  legacy formats        src/modules/useless.zig:195-318
  magic-number mismatch src/modules/magic_numbers.zig:205-256 → declared
                        `kind` vs content prefix consistency
  JSON validity         src/modules/parser.zig:15-43 → from_json null test

The check_* functions are one rule each of the fused ref/span/doc scans
(constraints/fused.py, imported lazily: it imports this module), which
combine the expressions defined here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachecker_spark.fingerprint import annotate

# --- name rules -------------------------------------------------------------

CHECK_NAME_RULES = "name_rules"
CHECK_NAME_LEN = "name_length"
MAX_NAME_LEN = 200  # MAX_DIR_FILE_NAME_SIZE analog (config defaults)

# doubled separators anywhere (rule c of stats.zig:53-60)
_DOUBLED = r"(  |--|__|\.\.)"
# repeated final extension, file.json.json (rule b, stats.zig:38-47)
_DUP_EXT = r"\.([A-Za-z0-9]+)\.\1$"
# forbidden filesystem chars + control chars (stats.zig:242-287)
_UNPORTABLE = '[<>:"|?*\\x00-\\x1f]'
_RESERVED = (
    ["CON", "PRN", "AUX", "NUL"]
    + [f"COM{i}" for i in range(1, 10)]
    + [f"LPT{i}" for i in range(1, 10)]
)


def name_violation_reason(name: Column) -> Column:
    """First matching rule name, else NULL. One expression, one scan."""
    stem = F.regexp_replace(name, r"\.[^.]*$", "")  # name minus final extension
    return (
        F.when(F.regexp_like(name, F.lit(_DOUBLED)), F.lit("doubled_chars"))
        .when(F.regexp_like(name, F.lit(_DUP_EXT)), F.lit("duplicate_extension"))
        .when(F.regexp_like(name, F.lit(_UNPORTABLE)), F.lit("unportable_chars"))
        .when(F.upper(stem).isin(_RESERVED), F.lit("reserved_name"))
        .when(F.regexp_like(name, F.lit(r"[. ]$")), F.lit("trailing_dot_or_space"))
        .otherwise(F.lit(None))
    )


def check_doc_names(docs: DataFrame) -> DataFrame:
    """WARNING per doc_id breaking a name rule (name_violation_reason)."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "name_rules")


def check_name_length(docs: DataFrame, max_len: int = MAX_NAME_LEN) -> DataFrame:
    """WARNING per doc_id longer than max_len."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "name_length", max_name_len=max_len)


CHECK_REF_LEN = "ref_path_length"
MAX_FULL_PATH_LEN = 1024  # MAX_FULL_PATH_SIZE analog (config.zig:72)


def check_ref_path_length(
    docs: DataFrame, max_len: int = MAX_FULL_PATH_LEN
) -> DataFrame:
    """WARNING per media_ref whose full path length exceeds max_len — the
    reference's fullPathSize check (stats.zig:231-239) applied to the
    engine's path-like refs (check_name_length covers only doc_id)."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "ref_path_length", max_path_len=max_len)


# --- temp / legacy media_ref tags --------------------------------------------

CHECK_TEMP = "temp_refs"
CHECK_LEGACY = "legacy_refs"

# Full temporary-extension membership, mirroring the reference's ~105-entry
# map (useless.zig:76-192); grouped the same way: system/cache, downloads,
# logs/journals, build artifacts, locks/backups.
TEMP_EXTENSIONS = [
    # system, cache, session
    "._.ds_store", ".~tmp", ".$$$", ".$$tmp", ".autosave", ".cache", ".chk",
    ".dmp", ".ds_store", ".ffs_tmp", ".frm", ".fseventsd", ".ftg", ".gid",
    ".gvfs", ".iceauthority", ".localized", ".mdmp", ".myd", ".myi", ".ncb",
    ".old", ".orig", ".peak", ".pf", ".pid", ".recently-used", ".recovery",
    ".rej", ".sample", ".scc", ".spotlight-v100", ".suo", ".swap", ".swo",
    ".swp", ".t", ".t$m", ".temp", ".temporary", ".temporaryitems", ".tmp",
    ".tpm", ".trashes", ".user", ".vmsn", ".vmss", ".xauthority",
    ".xsession-errors",
    # partial downloads
    ".!ut", ".crdownload", ".download", ".downloading", ".filepart",
    ".opdownload", ".part", ".partial",
    # logs / journals
    ".blf", ".etl", ".ldf", ".log", ".plg", ".regtrans-ms", ".tlog",
    # build artifacts
    ".a", ".aps", ".cmi", ".cmo", ".db-journal", ".dylib", ".elc", ".exp",
    ".fasl", ".gch", ".hi", ".idb", ".ilk", ".lastbuildstate", ".lib",
    ".map", ".mdf-journal", ".o", ".obj", ".opt", ".pdb", ".pyc", ".pyd",
    ".pyo", ".rbc", ".res", ".sassc", ".scratch", ".sqlite-shm",
    ".sqlite-wal", ".unsuccessfulbuild",
    # thumbnails / locks / backups
    ".thumbnails", ".thumbs", ".bak", ".lck", ".lock", ".lok",
]
# exact system filenames (useless.zig FULL_NAME map)
TEMP_EXACT_NAMES = [
    ".DS_Store", "desktop.ini", "ehthumbs.db", "hiberfil.sys",
    "Thumbs.db", "THUMBS.DB",
]
# path fragments flagged anywhere in the ref — FULL parity with the
# reference's 20-entry CONTAINS list (useless.zig:20-41), Windows '\'
# forms included verbatim so backslash-separated media_refs are covered.
REFERENCE_PATH_FRAGMENTS = [
    "\\$Recycle.bin\\", "\\AppData\\Local\\Temp", "\\Windows\\Temp",
    "\\AppData\\Local\\Microsoft\\INetCache\\IE",
    "\\AppData\\Local\\Microsoft\\INetCache\\Content.IE5",
    ".~lock.", ".git/objects/tmp_", ".git\\objects\\tmp_",
    ".hg/store/journal", ".hg\\store\\journal",
    ".svn/tmp/", ".svn\\tmp\\", ".torrent.", "/tmp/", "\\tmp\\",
    "node_modules/", "node_modules\\", "pycache/", "pycache\\",
    "__pycache__",
]
# engine extension: the five Windows-only locations additionally get
# '/'-separator twins (the engine's media_refs normally use '/'; the
# reference never sees those paths slash-separated, so it carries none)
UNIX_TWIN_FRAGMENTS = [
    "$Recycle.bin/", "AppData/Local/Temp", "Windows/Temp",
    "AppData/Local/Microsoft/INetCache/IE",
    "AppData/Local/Microsoft/INetCache/Content.IE5",
]
TEMP_PATH_FRAGMENTS = REFERENCE_PATH_FRAGMENTS + UNIX_TWIN_FRAGMENTS
# filename prefix/suffix pairs; empty string = no constraint
# (useless.zig START_END, 14 pairs)
TEMP_START_END = [
    (".", ""), (".#", ""), (".$", ""), (".fuse_hidden", ""), (".nfs", ""),
    (".z", ""), ("", "~"), ("#", "#"), ("~", ""), ("~", ".docx"),
    ("~$.", ""), ("~$", ".pptx"), ("temp", ""), ("tmp", ""),
]
# legacy format → description (a map literal in the fused ref scan; full
# parity with the reference's 110-entry map, useless.zig:195-306)
LEGACY_FORMATS = {
    ".123": "Lotus 1-2-3", ".669": "Composer 669", ".8svx": "Amiga 8-bit sound",
    ".adf": "Amiga Disk File", ".aiff": "Audio Interchange File Format",
    ".arc": "ARC archive", ".arj": "ARJ compressed archive",
    ".asf": "Advanced Systems Format", ".au": "Sun Audio file",
    ".b64": "Base64 encoded", ".bas": "BASIC source code", ".bat": "Batch file",
    ".binhex": "BinHex encoded", ".bmp": "Bitmap",
    ".cgm": "Computer Graphics Metafile", ".cmf": "Creative Music File",
    ".com": "DOS executable", ".cut": "Dr. Halo", ".cwk": "ClarisWorks document",
    ".d64": "Commodore 64 disk", ".dbf": "dBASE database file",
    ".dif": "Data Interchange Format", ".dl": "DL Animation",
    ".doc": "Microsoft Word 97-2003", ".dsk": "Disk image",
    ".dxf": "AutoCAD exchange", ".far": "Farandole Composer",
    ".fdi": "Formatted Disk Image", ".fla": "Adobe Flash source",
    ".flc": "Autodesk Animator", ".fli": "Autodesk Animator",
    ".fon": "Font file", ".frm": "FoxPro form", ".gem": "GEM Metafile",
    ".gl": "Grasp GL", ".grp": "Program Group", ".hqx": "BinHex - Mac",
    ".iff": "Interchange File Format - Amiga", ".ima": "Disk image",
    ".it": "Impulse Tracker", ".lbm": "Deluxe Paint", ".lha": "LHArc",
    ".lzh": "LZH compressed archive", ".manuscript": "WriteNow",
    ".mcw": "MacWrite", ".mdb": "Microsoft Access Database",
    ".mdx": "Multiple index", ".mid": "Musical Instrument Digital Interface",
    ".midi": "Musical Instrument Digital Interface", ".mime": "MIME encoded",
    ".mov": "QuickTime movie", ".msp": "Microsoft Paint",
    ".mtm": "MultiTracker", ".nb": "Nota Bene", ".ndx": "dBASE index",
    ".ntx": "Clipper index", ".nuv": "NuppelVideo", ".ovl": "Overlay file",
    ".pak": "PAK archive", ".pas": "Pascal source code", ".pct": "PICT image",
    ".pcx": "PC Paintbrush image", ".pic": "PC Paint/Pictor",
    ".pif": "Program Information File", ".pit": "PackIt archive - Mac",
    ".plt": "HPGL plotter", ".prg": "dBASE program", ".psw": "Pocket Word",
    ".pwl": "Password List", ".pxl": "Pocket Excel", ".qpd": "Quattro Pro",
    ".ra": "RealAudio", ".rm": "RealMedia file", ".rol": "AdLib ROL file",
    ".rtf": "Rich Text Format", ".s3m": "ScreamTracker 3", ".sam": "Samna Word",
    ".scr": "Screen saver", ".scx": "FoxPro screen",
    ".sdw": "StarOffice Writer document", ".sgi": "Silicon Graphics Image",
    ".sit": "StuffIt archive", ".snd": "Sound file", ".sqz": "Squeeze",
    ".sun": "Sun Raster", ".sylk": "Symbolic Link", ".targa": "TARGA image",
    ".td0": "Teledisk", ".tga": "TARGA image",
    ".tiff": "Tagged Image File Format", ".tsr": "Terminate and Stay Resident",
    ".ult": "Ultra Tracker", ".uue": "UUEncoded", ".voc": "Creative Voice File",
    ".wav": "Waveform Audio File Format", ".wk1": "Lotus 1-2-3 spreadsheet",
    ".wk3": "Lotus 1-2-3 spreadsheet", ".wk4": "Lotus 1-2-3 spreadsheet",
    ".wks": "Microsoft Works spreadsheet", ".wmf": "Windows Metafile",
    ".wmv": "Windows Media Video", ".wpd": "WordPerfect Document",
    ".wpg": "WordPerfect Graphics", ".wps": "Microsoft Works Word Processor",
    ".wri": "Windows Write", ".xls": "Microsoft Excel 97-2003",
    ".xm": "FastTracker 2", ".xy": "XyWrite", ".yuv": "Raw YUV video",
    ".zoo": "ZOO compressed archive",
}


def _basename(ref: Column) -> Column:
    return F.element_at(F.split(ref, "/"), -1)


def _ext(ref: Column) -> Column:
    """Lowercased final extension including the dot, '' if none."""
    base = _basename(ref)
    return F.when(
        F.regexp_like(base, F.lit(r"\.[^.]+$")),
        F.lower(F.regexp_extract(base, r"(\.[^.]+)$", 1)),
    ).otherwise(F.lit(""))


def ref_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, part, ref) per non-null media ref, from the `refs` derived
    column — the ref checks never decompress the spans payload
    (fingerprint.DERIVED_COLUMNS rationale)."""
    return annotate(docs).select("doc_id", "part", F.explode("refs").alias("ref"))


def temp_ref_expr(ref: Column) -> Column:
    """Temp/useless-artifact membership over a path-like ref — the four
    reference strategies ORed (useless.zig): extension map, exact filenames,
    path-contains fragments, and the 14 filename prefix/suffix pairs
    (empty side = no constraint, useless.zig:355-362)."""
    base, ext = _basename(ref), _ext(ref)
    cond = ext.isin(TEMP_EXTENSIONS) | base.isin(TEMP_EXACT_NAMES)
    for f in TEMP_PATH_FRAGMENTS:
        cond = cond | ref.contains(f)
    for start, end in TEMP_START_END:
        pair = F.lit(True)
        if start:
            pair = pair & base.startswith(start)
        if end:
            pair = pair & base.endswith(end)
        cond = cond | pair
    return cond


def check_temp_refs(docs: DataFrame) -> DataFrame:
    """WARNING per media_ref that looks like a temp/useless artifact."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "temp_refs")


def check_legacy_refs(docs: DataFrame) -> DataFrame:
    """WARNING per media_ref in a legacy format, with the format's
    description (the reference's ext→description map, useless.zig:195-306)."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "legacy_refs")


# --- declared-kind vs content consistency (magic numbers) ---------------------

CHECK_KIND = "kind_consistency"
ALLOWED_KINDS = ["text", "media", "json"]

# content prefix → format it implies (the engine's magic-number table; byte
# signatures from public file-format specs, expressed over span text)
MAGIC_PREFIXES = [
    ("%PDF", "pdf"),
    ("\x89PNG", "png"),
    ("GIF87a", "gif"),
    ("GIF89a", "gif"),
    ("\xff\xd8\xff", "jpeg"),
    ("PK\x03\x04", "zip"),
    ("ID3", "mp3"),
    ("RIFF", "riff"),
    ("\x7fELF", "elf"),
    ("MZ", "exe"),
    ("<!DOCTYPE html", "html"),
    ("<html", "html"),
    ("BZh", "bzip2"),
    ("\x1f\x8b", "gzip"),
]


def implied_format(text: Column) -> Column:
    """Format implied by the span content's magic prefix (NULL when none)."""
    implied = F.lit(None).cast("string")
    for prefix, fmt in reversed(MAGIC_PREFIXES):
        implied = F.when(text.startswith(prefix), F.lit(fmt)).otherwise(implied)
    return implied


def span_meta_column(spans: Column) -> Column:
    """Narrow per-span projection carrying EVERY field the span-level checks
    (kind consistency + JSON validity) consume: kind, implied format,
    text/ref presence, and the JSON-parse verdict. Evaluated once at
    annotate time (fingerprint.DERIVED_COLUMNS), it lets the runner drop
    the full spans payload from the suite cache — the widest cached column,
    whose decompression in the union job is otherwise a full extra pass of
    the corpus text over the memory bus (the binding constraint in the
    BASELINE.md scaling accounting). Array order preserves span positions
    for the violation details."""
    jsonish = lambda s: (s["kind"] == F.lit("json")) | (  # noqa: E731
        (s["kind"] == F.lit("text")) & s["text"].startswith("{")
    )
    return F.transform(
        spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            implied_format(s["text"]).alias("implied"),
            s["text"].isNotNull().alias("has_text"),
            s["media_ref"].isNotNull().alias("has_ref"),
            (
                jsonish(s)
                & s["text"].isNotNull()
                & F.from_json(s["text"], "map<string,string>").isNull()
            ).alias("bad_json"),
        ),
    )


def check_kind_consistency(docs: DataFrame) -> DataFrame:
    """ERROR when a span's declared kind contradicts its content:

    * kind not in the allowed set (the reference's pipes/sockets WARNING,
      stats.zig:104-108 — here schema drift);
    * text/json span whose content starts with a binary-format magic prefix
      (declared text, actually media — magic_numbers.zig check inverted);
    * media span carrying inline text, or text span carrying a media_ref
      (structural contradiction).
    """
    from datachecker_spark.constraints import fused

    return fused.only(docs, "kind_consistency")


# --- JSON span validity -------------------------------------------------------

CHECK_JSON = "json_validity"


def check_json_spans(docs: DataFrame) -> DataFrame:
    """ERROR per unparseable json span. A span participates
    if kind='json' OR its text starts with '{'. Validity = from_json against
    an open map schema returns non-null (the reference parses the whole file
    and flags parse failure, parser.zig:15-43). Built-in, no UDF."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "json_spans")
