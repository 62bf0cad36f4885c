#!/bin/bash
# Third-engine interop gate: after `sbt "runMain graft.Verify <sf> <out>"`
# has staged the zarr stores, read each store FAMILY back with the
# independent numpy reader (scripts/zarr_pyread.py — public-spec
# reimplementation, zero shared code with graft) and compare
# cell-for-cell against a DuckDB recomputation of the same query.
#
#   v2 + zlib          (zarr_*)     — .zarray, flat keys
#   v3 + sharding+gzip (zarr3_*)    — zarr.json, sharding_indexed, crc32c
#   v2 + blosc-lz4     (zarrbl_*)   — c-blosc frames, pure-python LZ4
#   v2 rank-3 + zlib   (zarrcube_*) — N-D geometry, padded edge chunks
#
# Each family also prints `sha256 <store> <digest>`: one sha256 over every
# file of the store (relative path + content), so checking that two builds
# write byte-identical stores is a diff of two runs' outputs. The sparse
# and anndata stores (zarrcsr_, zarrcsc_, anndata_: CSR/CSC groups, vlen
# string, categorical and rank-1 arrays) and the rank-3 store that
# stream_tensor_ingest builds band by band (tensor_ingest_store_) get
# digest lines too, without a third-engine read.
#
# Usage: interop_check.sh [sf_dir]     (default /root/testdata/sf0.01)
set -e
set -o pipefail
SF=${1:-/root/testdata/sf0.01}
SFNAME=$(echo "$SF" | sed 's/[^A-Za-z0-9]/_/g')
TMP=${SPARK_GRAFT_TMP:-$(pwd)/target/tmp}
digest() {
  local d
  d=$( (cd "$TMP/$1" && find . -type f -print0 | LC_ALL=C sort -z | xargs -0 sha256sum) \
    | sha256sum | cut -d' ' -f1)
  echo "sha256 $1 $d"
}
for store in "zarr_" "zarr3_" "zarrbl_"; do
  echo "== ${store}${SFNAME}"
  python3 "$(dirname "$0")/zarr_pyread.py" "$TMP/${store}${SFNAME}" "$SF"
  digest "${store}${SFNAME}"
done
echo "== zarrcube_${SFNAME} (rank-3)"
python3 "$(dirname "$0")/zarrnd_pycheck.py" "$TMP/zarrcube_${SFNAME}" "$SF"
digest "zarrcube_${SFNAME}"
echo "interop: 4/4 store families read by the independent engine"
for store in "zarrcsr_" "zarrcsc_" "anndata_" "tensor_ingest_store_"; do
  digest "${store}${SFNAME}"
done

# Third-engine check of the two xxhash64 queries the DuckDB oracle cannot
# express: pure-python XXH64 (public spec) re-derives both minhash-LSH
# pipelines end to end and compares pair sets against the staged output.
OUT=${2:-$(pwd)/target/verify_out}
echo "== minhash (independent XXH64 engine)"
python3 "$(dirname "$0")/minhash_pycheck.py" "$SF" "$OUT"
