#!/usr/bin/env python3
"""Generate fixtures/ursus_torture_wide.csv — a systematic edge-branch corpus
for the Ursus parity runs (FIXTURES.md §3). Covers every branch the
reference's own test suite exercises (tests/test_ursus_solr_record.py):
rights statements incl. the pd alias and CC URIs, every visibility value and
the Item Status override, object-type mapping, language codes/names/unknowns,
date grammar (ranges, 3-digit years, invalid A>B, duplicate instants),
archival-collection presence combos, lat/long length (mis)matches, MARC
subfields in titles and subjects, thumbnail/preservation-copy/IIIF paths,
licenses, text directions, viewing hints, and every one of the 31 name roles.
Deterministic (no randomness); rerun after schema changes."""

import csv
import itertools

HEADER = [
    "Item ARK", "Title", "AltTitle.other", "AltTitle.uniform",
    "Name.architect", "Author", "Name.creator", "Arranger", "Artist",
    "Calligrapher", "Cartographer", "Collector", "Commentator",
    "Name.composer", "Director", "Editor", "Engraver", "Host", "Illuminator",
    "Illustrator", "Interviewee", "Name.interviewer", "Librettist",
    "Name.lyricist", "Musician", "Name.photographer", "Printer", "Printmaker",
    "Producer", "Recipient", "Researcher", "Rubricator", "Scribe",
    "Translator", "Rights.copyrightStatus", "Language", "Type.typeOfResource",
    "viewingHint", "Text direction", "Visibility", "Item Status",
    "Object Type", "Date.normalized", "Date.creation",
    "Archival Collection Title", "Archival Collection Number", "Box", "Folder",
    "Description.latitude", "Description.longitude", "Subject", "Name.subject",
    "Subject temporal", "Subject.conceptTopic", "Subject geographic",
    "Thumbnail URL", "File Name", "Parent ARK", "License", "Summary",
    "Publisher.placeOfOrigin", "Format.extent", "Format.dimensions",
    "Format.medium", "Description.note", "Note", "Identifier", "Alt ID.local",
    "Shelfmark", "Opac url", "Finding Aid URL", "Support", "Script",
    "Writing system", "Features", "Form", "Type.genre", "Contents",
    "Explicit", "Incipit", "Provenance", "References", "Collation",
    "Binding note", "Condition note", "Hand note", "Foliation", "Edition",
    "Program", "Series", "Statement of Responsibility",
    "Rights.countryCreation", "Rights.rightsHolderName", "Table of Contents",
    "Coverage.geographic", "Related Records", "Related Items",
    "Personal or Corporate Name.repository", "oai_set", "Page layout",
    "Masthead", "Tagline", "Featured image", "Representative image",
    "IIIF Manifest URL", "IIIF Range", "image count", "External item record",
    "Rights.statementLocal", "Rights.servicesContact", "delivery",
    "Descriptive title", "Contributors", "Content disclaimer",
    "Associated Name", "Description.fundingNote", "History",
    "Illustrations note", "Binding condition", "Description.caption",
    "Colophon", "Inscription", "AdminNote", "Other version(s)",
    "Folio dimensions",
]

NAME_COLS = [
    "Name.architect", "Author", "Name.creator", "Arranger", "Artist",
    "Calligrapher", "Cartographer", "Collector", "Commentator",
    "Name.composer", "Director", "Editor", "Engraver", "Host", "Illuminator",
    "Illustrator", "Interviewee", "Name.interviewer", "Librettist",
    "Name.lyricist", "Musician", "Name.photographer", "Printer", "Printmaker",
    "Producer", "Recipient", "Researcher", "Rubricator", "Scribe",
    "Translator",
]

RIGHTS = ["copyrighted", "unknown", "public domain", "pd",
          "copyrighted|~|pd", ""]
VIS = [("open", ""), ("public", ""), ("ucla", ""), ("private", ""),
       ("discovery", ""), ("sinai", ""), ("", ""), ("open", "Completed"),
       ("private", "Completed with minimal descriptive metadata"), ("", "In progress")]
OBJ = ["Manuscript", "Page", "Collection", "Work", "ChildWork", ""]
# Language is an Enum of CODES (controlled_fields.Language); labels and
# unknown codes are rejected by the model -> error channel, not parity
LANGS = ["eng", "fre|~|ger", "ota", "zxx|~|eng", "heb", "ara|~|syc", ""]
# model-VALID date grammar only (invalid forms are error-channel rows);
# includes the duplicate-instant case 935 vs 935-01-01
DATES = ["1941-10/1942", "935", "935|~|935-01-01",
         "1980-01-02|~|1980-01-02", "1848/1849|~|935", "1901-02-03", ""]
RTYPE = ["text", "still image", "cartographic", "sound recording",
         "moving image", "text|~|still image", ""]
TDIR = ["left-to-right", "right-to-left", "top-to-bottom", "bottom-to-top", ""]
VHINT = ["paged", "individuals", "continuous", "non-paged", "facing-pages", ""]
LICENSE = ["Creative Commons CC0 1.0 Universal",
           "Attribution 4.0 International (CC BY 4.0)", "", "unknown license"]
ARCH = list(itertools.product(["Papers of X", ""], ["Coll 7", ""],
                              ["box 12", ""], ["Folder 3", ""]))
COORD = [("34.07|~|35.00", "-118.44|~|-117.00"), ("34.07", "-118.44"), ("", "")]
THUMB = [("https://iiif.library.example/iiif/2/t{i}", ""),
         ("https://t.example/x/full/!200,200/0/default.jpg", ""),
         ("", "Masters/dlmasters/abc/t{i}.tif"),
         ("", "")]


def pick(seq, i):
    return seq[i % len(seq)]


rows = []
for i in range(60):
    ark = f"ark:/21198/tw{i:04d}"
    row = dict.fromkeys(HEADER, "")
    row["Item ARK"] = ark
    row["Title"] = pick(["Main $a Title", "Plain Title",
                         "Multi|~|Titles $z Here"], i)
    row["AltTitle.other"] = pick(["Alt A|~|Alt B", "", "Single Alt"], i)
    row["AltTitle.uniform"] = pick(["Uniform T", ""], i)
    # one name role rotates through all 31 columns; a second is fixed for
    # combined_names dedup coverage
    row[NAME_COLS[i % len(NAME_COLS)]] = f"Person {i % 7}|~|Shared Name"
    row["Author"] = (row["Author"] or "") or ("Shared Name" if i % 3 == 0 else "")
    row["Rights.copyrightStatus"] = pick(RIGHTS, i)
    vis, status = pick(VIS, i)
    row["Visibility"], row["Item Status"] = vis, status
    row["Object Type"] = pick(OBJ, i)
    row["Language"] = pick(LANGS, i)
    row["Date.normalized"] = pick(DATES, i)
    row["Date.creation"] = pick(["circa 1900", ""], i)
    t, n, b, f = pick(ARCH, i)
    row["Archival Collection Title"] = t
    row["Archival Collection Number"] = n
    row["Box"], row["Folder"] = b, f
    row["Description.latitude"], row["Description.longitude"] = pick(COORD, i)
    row["Type.typeOfResource"] = pick(RTYPE, i)
    row["Text direction"] = pick(TDIR, i)
    row["viewingHint"] = pick(VHINT, i)
    row["License"] = pick(LICENSE, i)
    thumb, fname = pick(THUMB, i)
    row["Thumbnail URL"] = thumb.format(i=i)
    row["File Name"] = fname.format(i=i)
    row["Subject"] = pick(["Music $z Spain", "Plain Subject", ""], i)
    row["Name.subject"] = pick(["Nin, Joaquin $z 1879", ""], i)
    row["Subject temporal"] = pick(["Medieval", "", "20th century"], i)
    row["Subject.conceptTopic"] = pick(["Topic A|~|Topic B", ""], i)
    row["Subject geographic"] = pick(["Sinai", "", "Vienna $z Austria"], i)
    row["Parent ARK"] = pick(["ark:/21198/zzparent1", ""], i)
    row["Summary"] = pick(["A summary $b here.", ""], i)
    row["Publisher.placeOfOrigin"] = pick(["Vienna", "", "Cairo|~|Fustat"], i)
    row["Format.extent"] = pick(["12 ff.", ""], i)
    row["Format.dimensions"] = pick(["30 x 20 cm", ""], i)
    row["Format.medium"] = pick(["parchment", "", "paper"], i)
    row["Description.note"] = pick(["A note $b two", ""], i)
    row["Note"] = pick(["General note", ""], i)
    row["Identifier"] = pick([f"ID-{i}|~|ID-{i}x", ""], i)
    row["Alt ID.local"] = pick([f"loc-{i}", ""], i)
    row["Shelfmark"] = pick([f"Shelf {i}", ""], i)
    row["Opac url"] = pick(["https://opac.example/1", ""], i)
    row["Finding Aid URL"] = pick(["https://oac.example/f", ""], i)
    row["Support"] = pick(["papyrus", "parchment|~|paper", ""], i)
    row["Script"] = pick(["Cursive", ""], i)
    row["Writing system"] = pick(["Arabic", "", "Syriac"], i)
    row["Features"] = pick(["Colophon present|~|Dated", ""], i)
    row["Form"] = pick(["codex", "", "scroll"], i)
    row["Type.genre"] = pick(["poetry", "", "hagiography|~|hymns"], i)
    row["Contents"] = pick(["Contents here", ""], i)
    row["Explicit"] = pick(["Explicit text", ""], i)
    row["Incipit"] = pick(["Incipit text", ""], i)
    row["Provenance"] = pick(["From X", ""], i)
    row["References"] = pick(["Ref A", ""], i)
    row["Collation"] = pick(["2 columns", ""], i)
    row["Binding note"] = pick(["Original binding", ""], i)
    row["Condition note"] = pick(["Water damage $a minor", ""], i)
    row["Hand note"] = pick(["Two hands", ""], i)
    row["Foliation"] = pick(["ff. 1-12", ""], i)
    row["Edition"] = pick(["First edition", ""], i)
    row["Program"] = pick(["MEAP", "", "IMLS"], i)
    row["Series"] = pick(["Series 9", ""], i)
    row["Statement of Responsibility"] = pick(["By the author", ""], i)
    row["Rights.countryCreation"] = pick(["Austria", "", "Egypt"], i)
    row["Rights.rightsHolderName"] = pick(["Holder Name", ""], i)
    row["Table of Contents"] = pick(["TOC one|~|TOC two", ""], i)
    row["Coverage.geographic"] = pick(["Vienna, Austria", ""], i)
    # human_readable_related_record_title_ssm has NO csv alias (importer
    # populates it), so Related Records must stay empty in csv-driven parity;
    # Related Items (related_to_ssm) is independent
    row["Related Items"] = pick(["ark:/21198/ri1", ""], i)
    row["Personal or Corporate Name.repository"] = pick(
        ["Repository X", "", "University of California, Los Angeles. Library. Special Collections"], i)
    row["oai_set"] = pick(["set-a", ""], i)
    row["IIIF Manifest URL"] = pick(
        ["https://iiif.library.example/ark/manifest", ""], i)
    row["image count"] = pick(["42", "", "7"], i)
    row["Contributors"] = pick(["Contributor Z", ""], i)
    row["Associated Name"] = pick(["Assoc Name", ""], i)
    row["History"] = pick(["Long history", ""], i)
    row["Colophon"] = pick(["Finis", ""], i)
    row["Inscription"] = pick(["In the margin", ""], i)
    rows.append(row)

out = "fixtures/ursus_torture_wide.csv"
with open(out, "w", newline="") as fh:
    w = csv.DictWriter(fh, fieldnames=HEADER)
    w.writeheader()
    w.writerows(rows)
print(f"wrote {len(rows)} rows to {out}")
