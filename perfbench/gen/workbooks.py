"""Minimal spreadsheet writers for the synthetic NHS publication corpus.

`xlsx(sheets)` writes an OOXML workbook (zip + SpreadsheetML, shared
strings). `xls(sheets)` writes a legacy BIFF8 workbook inside a CFB
compound file. Both take `sheets` as a list of (name, rows); a row is a
list of cells, each a str (shared string), an int or float (numeric) or
None (no cell).
"""
import io
import struct
import zipfile
from xml.sax.saxutils import escape


# ---------------------------------------------------------------- xlsx --

def _col_ref(i):
    s = ""
    n = i + 1
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _num(v):
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return repr(v) if isinstance(v, float) else str(v)


def xlsx(sheets):
    shared = {}

    def sid(s):
        if s not in shared:
            shared[s] = len(shared)
        return shared[s]

    parts = []
    for _, rows in sheets:
        out = ['<?xml version="1.0" encoding="UTF-8"?>'
               '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
               '<sheetData>']
        for ri, cells in enumerate(rows):
            out.append(f'<row r="{ri + 1}">')
            for ci, v in enumerate(cells):
                if v is None:
                    continue
                ref = f"{_col_ref(ci)}{ri + 1}"
                if isinstance(v, str):
                    out.append(f'<c r="{ref}" t="s"><v>{sid(v)}</v></c>')
                else:
                    out.append(f'<c r="{ref}"><v>{_num(v)}</v></c>')
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        parts.append("".join(out))

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    workbook = (f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} {rel_ns}><sheets>'
                + "".join(f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                          for i, (n, _) in enumerate(sheets))
                + "</sheets></workbook>")
    rels = ('<?xml version="1.0" encoding="UTF-8"?><Relationships '
            'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(f'<Relationship Id="rId{i + 1}" '
                      'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
                      f'Target="worksheets/sheet{i + 1}.xml"/>' for i in range(len(sheets)))
            + "</Relationships>")
    styles = (f'<?xml version="1.0" encoding="UTF-8"?><styleSheet {ns}>'
              '<cellXfs count="1"><xf numFmtId="0"/></cellXfs></styleSheet>')
    sst = (f'<?xml version="1.0" encoding="UTF-8"?><sst {ns} count="{len(shared)}" '
           f'uniqueCount="{len(shared)}">'
           + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared) + "</sst>")
    content_types = (
        '<?xml version="1.0" encoding="UTF-8"?><Types '
        'xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
                  'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                  for i in range(len(sheets)))
        + "</Types>")
    root_rels = ('<?xml version="1.0" encoding="UTF-8"?><Relationships '
                 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                 '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
                 'relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>')

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/styles.xml", styles)
        for i, p in enumerate(parts):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", p)
        z.writestr("xl/sharedStrings.xml", sst)
    return buf.getvalue()


# ----------------------------------------------------------------- xls --

_MAX_REC = 8224  # BIFF8 record payload limit


def _rec(typ, payload):
    return struct.pack("<HH", typ, len(payload)) + payload


def _sst_records(strings):
    """SST plus CONTINUE records, split only at string boundaries; each
    string has a 16-bit length and compressed (Latin-1) characters."""
    recs = []
    cur = bytearray(struct.pack("<II", len(strings), len(strings)))
    typ = 0x00FC
    for s in strings:
        enc = struct.pack("<HB", len(s), 0) + s.encode("latin-1")
        if len(cur) + len(enc) > _MAX_REC:
            recs.append(_rec(typ, bytes(cur)))
            typ, cur = 0x003C, bytearray()
        cur += enc
    recs.append(_rec(typ, bytes(cur)))
    return b"".join(recs)


def _workbook_stream(sheets):
    sst = {}
    bodies = []
    bof = lambda dt: _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0))
    eof = _rec(0x000A, b"")
    for _, rows in sheets:
        out = [bof(0x0010)]
        for ri, cells in enumerate(rows):
            for ci, v in enumerate(cells):
                if v is None:
                    continue
                if isinstance(v, str):
                    idx = sst.setdefault(v, len(sst))
                    out.append(_rec(0x00FD, struct.pack("<HHHI", ri, ci, 0, idx)))
                else:
                    out.append(_rec(0x0203, struct.pack("<HHHd", ri, ci, 0, float(v))))
        out.append(eof)
        bodies.append(b"".join(out))

    def globals_(offsets):
        g = [bof(0x0005), _rec(0x0022, struct.pack("<H", 0))]
        g += [_rec(0x00E0, struct.pack("<HH", 0, 0) + bytes(16)) for _ in range(16)]
        for (name, _), off in zip(sheets, offsets):
            nb = name.encode("latin-1")
            g.append(_rec(0x0085, struct.pack("<IHBB", off, 0, len(nb), 0) + nb))
        g.append(_sst_records(list(sst)))
        g.append(eof)
        return b"".join(g)

    fixed = len(globals_([0] * len(sheets)))
    offsets, pos = [], fixed
    for b in bodies:
        offsets.append(pos)
        pos += len(b)
    return globals_(offsets) + b"".join(bodies)


def _cfb(stream, name="Workbook"):
    """CFB v3 container (512-byte sectors, regular FAT only: the stream is
    zero-padded past the 4096-byte mini-stream cutoff)."""
    sec = 512
    if len(stream) < 4096:
        stream = stream + bytes(4096 - len(stream))
    n = -(-len(stream) // sec)
    nfat = 1
    while nfat * (sec // 4) < nfat + 1 + n:
        nfat += 1
    if nfat > 109:
        raise ValueError("workbook stream too large for a header-only DIFAT")
    end, free, fatsec = 0xFFFFFFFE, 0xFFFFFFFF, 0xFFFFFFFD
    fat = [fatsec] * nfat + [end]
    first = nfat + 1
    fat += [first + i + 1 for i in range(n - 1)] + [end]
    fat += [free] * (nfat * (sec // 4) - len(fat))

    def dir_entry(ename, typ, child, start, size):
        u = ename.encode("utf-16-le")
        raw = u + bytes(64 - len(u))
        nlen = len(u) + 2 if ename else 0
        return (raw + struct.pack("<HBBiii", nlen, typ, 1, -1, -1, child)
                + bytes(36) + struct.pack("<III", start, size, 0))

    directory = (dir_entry("Root Entry", 5, 1, end, 0)
                 + dir_entry(name, 2, -1, first, len(stream))
                 + dir_entry("", 0, -1, 0, 0) + dir_entry("", 0, -1, 0, 0))
    header = (struct.pack("<II", 0xE011CFD0, 0xE11AB1A1) + bytes(16)
              + struct.pack("<HHHHH", 0x003E, 0x0003, 0xFFFE, 9, 6) + bytes(6)
              + struct.pack("<IIIIIIIII", 0, nfat, nfat, 0, 4096, end, 0, end, 0)
              + struct.pack("<109I", *(list(range(nfat)) + [free] * (109 - nfat))))
    assert len(header) == sec
    body = struct.pack(f"<{len(fat)}I", *fat) + directory + bytes(sec - len(directory))
    return header + body + stream + bytes(n * sec - len(stream))


def xls(sheets):
    return _cfb(_workbook_stream(sheets))
