"""The `etl_write` input, made from the run's seed.

`make_corpus(dir, seed, n)` writes an IRS-990 e-file corpus of `n` small
XML filings plus its manifest, and returns the expected results of the two
reference jobs: filings per lower-cased city and revenue per filing.

The parquet mixes do not use this module: they read the project's fixed
sf0.1 tables, committed unchanged under data/sf0.1 (see run.py).
"""
import os
import random

CITIES = ["Berkeley", "Fort Washington", "Madison", "Fayetteville", "Cary",
          "Raleigh", "Glenside", "Shoreline", "Athens", "Florham Park",
          "berkelrey", "Oakland", "Durham", "Ithaca", "Boulder", "Tacoma"]

PRETTY = """<?xml version="1.0"?>
<Return xmlns="http://www.irs.gov/efile" returnVersion="2019v5.1">
  <ReturnHeader>
    <Filer>
      <EIN>{ein}</EIN>
      <BusinessName>
        <BusinessNameLine1Txt>NONPROFIT {i:06d}</BusinessNameLine1Txt>
      </BusinessName>
      <USAddress>
        <AddressLine1Txt>{i} MAIN ST</AddressLine1Txt>
        <CityNm>{city}</CityNm>
        <StateAbbreviationCd>CA</StateAbbreviationCd>
        <ZIPCd>{zip:05d}</ZIPCd>
      </USAddress>
    </Filer>{empty}
  </ReturnHeader>
  <ReturnData>
    <IRS990>
      <GrossReceiptsAmt>{gross}</GrossReceiptsAmt>
      <TotalRevenueAmt>{rev}</TotalRevenueAmt>
    </IRS990>
  </ReturnData>
</Return>
"""


def make_corpus(out, seed, n):
    """Write `n` filings and `manifest.txt` under `out`. A third of the
    filings are compact (no whitespace between elements) and a fifth carry
    an empty `<Foo/>` element. Returns (cities, revenue): lower-cased city ->
    filing count, and manifest URI -> TotalRevenueAmt.
    """
    rnd = random.Random(seed)
    os.makedirs(f"{out}/filings", exist_ok=True)
    cities, revenue, uris = {}, {}, []
    for i in range(n):
        city = rnd.choice(CITIES)
        city = rnd.choice([city, city.upper(), city.lower()])
        rev = rnd.randrange(1_000, 50_000_000)
        empty = "\n    <Foo/>" if rnd.random() < 0.2 else ""
        xml = PRETTY.format(i=i, ein=900000000 + i, city=city,
                            zip=rnd.randrange(10000, 99999), empty=empty,
                            gross=rev + rnd.randrange(0, 10_000), rev=rev)
        if rnd.random() < 1 / 3:
            xml = "".join(line.strip() for line in xml.splitlines())
        uri = f"filings/filing_{i:06d}.xml"
        with open(f"{out}/{uri}", "w") as f:
            f.write(xml)
        uris.append(uri)
        cities[city.lower()] = cities.get(city.lower(), 0) + 1
        revenue[uri] = rev
    with open(f"{out}/manifest.txt", "w") as f:
        f.write("\n".join(uris) + "\n")
    return cities, revenue
