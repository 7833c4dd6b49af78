"""The CLI's accept/reject table: which argument vectors main()
rejects as usage errors (exit 2) and which it accepts, asserted
without starting Spark.  ``get_spark`` is replaced by a function that
raises, so reaching it means "accepted".

One row per line: ``+`` accepted, ``-`` rejected, ``!`` rejected now but
once accepted.  The ``!`` rows are two rule fixes: ``--shard-seed ''``
without ``--shards`` (the seed was tested by value, so the empty one
was silently ignored), and ``--pack 0`` / ``--shards 0`` under
``--tokenizer-json`` (their bounds were checked under ``--tokenize``
only; a zero shard count failed after Spark had started).  Every row
runs with ``--infn x`` in front."""

from __future__ import annotations

import shlex

import pytest

import wikiextractor_spark.__main__ as cli

TABLE = """
# every usage-error argv of the existing CLI tests (and the bare run)
- --source dump --tokenize wordpiece
- --source wet --vocab v
- --source warc --pack 8
- --source docs
- --source docs --tokenize wordpiece
- --source docs --tokenize bpe --vocab v
- --source docs --tokenize unigram
- --source docs --tokenize wordpiece --vocab v --lm l
- --source docs --tokenize unigram --lm l --merges m
- --source docs --tokenize wordpiece --vocab v --shard-seed ep1
- --source docs --tokenize unigram --lm l --basic-tokenize
- --source wet --basic-tokenize
- --source wet --target-lang en
- --source dump --normalize NFC
- --source warc --dedup exact
- --source docs --dedup exact --vocab v
- --source docs --normalize NFC --pack 8
- --source docs --gopher --shard-seed ep1
- --source docs --min-quality 0.5 --basic-tokenize
- --source docs --sentence-span-dedup 1
- --source dump --langid-model m
- --source docs --langid-model m
- --source docs --dedup exact --langid-model m
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --tokenize unigram --lm l
- --source docs --train-tokenizer unigram --vocab-size 30
- --source docs --train-tokenizer unigram --out-model m
- --source docs --dedup exact --vocab-size 30
- --source docs --dedup exact --out-model m
- --source docs --dedup exact --train-sample-fraction 0.5
- --source docs --train-tokenizer unigram --vocab-size 0 --out-model m
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --train-sample-fraction 1.5
- --source dump --train-tokenizer bpe
- --source docs --tokenize bpe --vocab v.json --merges m_parquet
- --source docs --tokenize bpe --vocab v_parquet --merges m.txt
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --byte-level
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --byte-level
- --source docs --dedup exact --byte-level
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --space-marker
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --space-marker 'a b'
- --source dump --byte-level
- --source docs --train-tokenizer bpe --vocab-size 256 --out-model m --byte-level
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --prune-rank loss
- --source docs --dedup exact --prune-rank count
- --source dump --prune-rank loss
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --basic-tokenize
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --basic-tokenize
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --basic-tokenize --special-token '<s>'
- --source docs --dedup exact --special-token '<s>'
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --special-token 'a b'
- --source dump --special-token '<s>'
- --source docs --tokenizer-json t --tokenize wordpiece --vocab v
- --source docs --tokenizer-json t --train-tokenizer bpe --vocab-size 300 --out-model m
- --source docs --tokenizer-json t --vocab v
- --source docs --tokenizer-json t --lm l
- --source docs --tokenizer-json t --basic-tokenize
- --source docs --tokenizer-json t --space-marker '▁'
- --source dump --tokenizer-json t
- --source docs --dedup exact --pack 8
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --out somewhere
- --source docs --tokenize wordpiece --vocab v --space-marker
- --source docs --dedup exact --space-marker
- --source wet --main-content
- --source dump --with-meta
- --source wet --parser line
- --source warc --vitalfn v
- --source wet --compress
- --source warc --incubator enm
- --source wet --max-records-per-file 5
- --source wet --parser xml
- --source warc --incubator ''
- --source wet --vitalfn ''
+
- --max-records-per-file 0
- --max-records-per-file -3
- --source docs --tokenize unigram --lm l --space-marker=
- --source docs --tokenize unigram --lm l '--space-marker= '
- --source docs --tokenize unigram --charsmap nfkc
- --source wet --charsmap nfkc
# each scoped flag under each --source, at a non-default and a default or edge value
+ --source dump --incubator enm
+ --source dump --incubator ''
+ --source dump --compress
+ --source dump --parser line
+ --source dump --parser xml
+ --source dump --vitalfn v
+ --source dump --vitalfn ''
+ --source dump --max-records-per-file 5
- --source dump --max-records-per-file 0
- --source dump --main-content
- --source dump --tokenize bpe
- --source dump --tokenize unigram
- --source dump --tokenizer-json ''
- --source dump --charsmap nfkc
- --source dump --charsmap record
- --source dump --vocab v
- --source dump --vocab ''
- --source dump --merges m.txt
- --source dump --merges ''
- --source dump --lm l
- --source dump --lm ''
- --source dump --space-marker
- --source dump --space-marker _
- --source dump --space-marker ''
- --source dump --pack 8
- --source dump --pack 0
- --source dump --shards 2
- --source dump --shards 0
- --source dump --shard-seed ep1
- --source dump --shard-seed ''
- --source dump --basic-tokenize
- --source dump --train-tokenizer wordpiece
- --source dump --train-tokenizer unigram
- --source dump --vocab-size 300
- --source dump --vocab-size 0
- --source dump --prune-rank count
- --source dump --special-token 'a b'
- --source dump --out-model m
- --source dump --out-model ''
- --source dump --train-sample-fraction 0.5
- --source dump --train-sample-fraction 1.5
- --source dump --target-lang en
- --source dump --target-lang ''
- --source dump --langid-model lid
- --source dump --langid-model ''
- --source dump --min-quality 0.5
- --source dump --min-quality 0
- --source dump --gopher
- --source dump --normalize NFKD
- --source dump --dedup exact
- --source dump --dedup near
- --source dump --sentence-span-dedup 3
- --source dump --sentence-span-dedup 1
+ --source dump --out o
- --source wet --incubator enm
- --source wet --incubator ''
- --source wet --vitalfn v
- --source wet --max-records-per-file 0
- --source wet --with-meta
- --source wet --tokenize wordpiece
- --source wet --tokenize bpe
- --source wet --tokenize unigram
- --source wet --tokenizer-json t
- --source wet --tokenizer-json ''
- --source wet --charsmap record
- --source wet --vocab ''
- --source wet --merges m.txt
- --source wet --merges ''
- --source wet --lm l
- --source wet --lm ''
- --source wet --space-marker
- --source wet --space-marker _
- --source wet --space-marker ''
- --source wet --pack 8
- --source wet --pack 0
- --source wet --shards 2
- --source wet --shards 0
- --source wet --shard-seed ep1
- --source wet --shard-seed ''
- --source wet --train-tokenizer bpe
- --source wet --train-tokenizer wordpiece
- --source wet --train-tokenizer unigram
- --source wet --vocab-size 300
- --source wet --vocab-size 0
- --source wet --byte-level
- --source wet --prune-rank loss
- --source wet --prune-rank count
- --source wet --special-token '<s>'
- --source wet --special-token 'a b'
- --source wet --out-model m
- --source wet --out-model ''
- --source wet --train-sample-fraction 0.5
- --source wet --train-sample-fraction 1.5
- --source wet --target-lang ''
- --source wet --langid-model lid
- --source wet --langid-model ''
- --source wet --min-quality 0.5
- --source wet --min-quality 0
- --source wet --gopher
- --source wet --normalize NFC
- --source wet --normalize NFKD
- --source wet --dedup exact
- --source wet --dedup near
- --source wet --sentence-span-dedup 3
- --source wet --sentence-span-dedup 1
+ --source wet --out o
- --source warc --compress
- --source warc --parser line
- --source warc --parser xml
- --source warc --vitalfn ''
- --source warc --max-records-per-file 5
- --source warc --max-records-per-file 0
+ --source warc --main-content
+ --source warc --with-meta
- --source warc --tokenize wordpiece
- --source warc --tokenize bpe
- --source warc --tokenize unigram
- --source warc --tokenizer-json t
- --source warc --tokenizer-json ''
- --source warc --charsmap nfkc
- --source warc --charsmap record
- --source warc --vocab v
- --source warc --vocab ''
- --source warc --merges m.txt
- --source warc --merges ''
- --source warc --lm l
- --source warc --lm ''
- --source warc --space-marker
- --source warc --space-marker _
- --source warc --space-marker ''
- --source warc --pack 0
- --source warc --shards 2
- --source warc --shards 0
- --source warc --shard-seed ep1
- --source warc --shard-seed ''
- --source warc --basic-tokenize
- --source warc --train-tokenizer bpe
- --source warc --train-tokenizer wordpiece
- --source warc --train-tokenizer unigram
- --source warc --vocab-size 300
- --source warc --vocab-size 0
- --source warc --byte-level
- --source warc --prune-rank loss
- --source warc --prune-rank count
- --source warc --special-token '<s>'
- --source warc --special-token 'a b'
- --source warc --out-model m
- --source warc --out-model ''
- --source warc --train-sample-fraction 0.5
- --source warc --train-sample-fraction 1.5
- --source warc --target-lang en
- --source warc --target-lang ''
- --source warc --langid-model lid
- --source warc --langid-model ''
- --source warc --min-quality 0.5
- --source warc --min-quality 0
- --source warc --gopher
- --source warc --normalize NFC
- --source warc --normalize NFKD
- --source warc --dedup near
- --source warc --sentence-span-dedup 3
- --source warc --sentence-span-dedup 1
+ --source warc --out o
- --source docs --incubator enm
- --source docs --incubator ''
- --source docs --compress
- --source docs --parser line
- --source docs --parser xml
- --source docs --vitalfn v
- --source docs --vitalfn ''
- --source docs --max-records-per-file 5
- --source docs --max-records-per-file 0
- --source docs --main-content
- --source docs --with-meta
- --source docs --tokenize bpe
+ --source docs --tokenizer-json t
+ --source docs --tokenizer-json ''
- --source docs --charsmap nfkc
- --source docs --charsmap record
- --source docs --vocab v
- --source docs --vocab ''
- --source docs --merges m.txt
- --source docs --merges ''
- --source docs --lm l
- --source docs --lm ''
- --source docs --space-marker
- --source docs --space-marker _
- --source docs --space-marker ''
- --source docs --pack 8
- --source docs --pack 0
- --source docs --shards 2
- --source docs --shards 0
- --source docs --shard-seed ep1
- --source docs --shard-seed ''
- --source docs --basic-tokenize
- --source docs --train-tokenizer bpe
- --source docs --train-tokenizer wordpiece
- --source docs --train-tokenizer unigram
- --source docs --vocab-size 300
- --source docs --vocab-size 0
- --source docs --byte-level
- --source docs --prune-rank loss
- --source docs --prune-rank count
- --source docs --special-token '<s>'
- --source docs --special-token 'a b'
- --source docs --out-model m
- --source docs --out-model ''
- --source docs --train-sample-fraction 0.5
- --source docs --train-sample-fraction 1.5
+ --source docs --target-lang en
+ --source docs --target-lang ''
- --source docs --langid-model lid
- --source docs --langid-model ''
+ --source docs --min-quality 0.5
+ --source docs --min-quality 0
+ --source docs --gopher
+ --source docs --normalize NFC
+ --source docs --normalize NFKD
+ --source docs --dedup exact
+ --source docs --dedup near
+ --source docs --sentence-span-dedup 3
- --source docs --out o
# each docs flag under each docs mode: --tokenize wordpiece|bpe|unigram, --tokenizer-json, --train-tokenizer bpe|wordpiece|unigram, prepare-only (--dedup exact)
+ --source docs --tokenize wordpiece --vocab v --tokenize wordpiece
- --source docs --tokenize wordpiece --vocab v --tokenize bpe
- --source docs --tokenize wordpiece --vocab v --tokenize unigram
- --source docs --tokenize wordpiece --vocab v --tokenizer-json t
- --source docs --tokenize wordpiece --vocab v --tokenizer-json ''
- --source docs --tokenize wordpiece --vocab v --charsmap nfkc
- --source docs --tokenize wordpiece --vocab v --charsmap record
+ --source docs --tokenize wordpiece --vocab v --vocab v
+ --source docs --tokenize wordpiece --vocab v --vocab ''
- --source docs --tokenize wordpiece --vocab v --merges m.txt
- --source docs --tokenize wordpiece --vocab v --merges ''
- --source docs --tokenize wordpiece --vocab v --lm ''
- --source docs --tokenize wordpiece --vocab v --space-marker _
- --source docs --tokenize wordpiece --vocab v --space-marker ''
+ --source docs --tokenize wordpiece --vocab v --pack 8
- --source docs --tokenize wordpiece --vocab v --pack 0
+ --source docs --tokenize wordpiece --vocab v --shards 2
- --source docs --tokenize wordpiece --vocab v --shards 0
! --source docs --tokenize wordpiece --vocab v --shard-seed ''
+ --source docs --tokenize wordpiece --vocab v --basic-tokenize
- --source docs --tokenize wordpiece --vocab v --train-tokenizer bpe
- --source docs --tokenize wordpiece --vocab v --train-tokenizer wordpiece
- --source docs --tokenize wordpiece --vocab v --train-tokenizer unigram
- --source docs --tokenize wordpiece --vocab v --vocab-size 300
- --source docs --tokenize wordpiece --vocab v --vocab-size 0
- --source docs --tokenize wordpiece --vocab v --byte-level
- --source docs --tokenize wordpiece --vocab v --prune-rank loss
- --source docs --tokenize wordpiece --vocab v --prune-rank count
- --source docs --tokenize wordpiece --vocab v --special-token '<s>'
- --source docs --tokenize wordpiece --vocab v --special-token 'a b'
- --source docs --tokenize wordpiece --vocab v --out-model m
- --source docs --tokenize wordpiece --vocab v --out-model ''
- --source docs --tokenize wordpiece --vocab v --train-sample-fraction 0.5
- --source docs --tokenize wordpiece --vocab v --train-sample-fraction 1.5
+ --source docs --tokenize wordpiece --vocab v --target-lang en
+ --source docs --tokenize wordpiece --vocab v --target-lang ''
- --source docs --tokenize wordpiece --vocab v --langid-model lid
- --source docs --tokenize wordpiece --vocab v --langid-model ''
+ --source docs --tokenize wordpiece --vocab v --min-quality 0.5
+ --source docs --tokenize wordpiece --vocab v --min-quality 0
+ --source docs --tokenize wordpiece --vocab v --gopher
+ --source docs --tokenize wordpiece --vocab v --normalize NFC
+ --source docs --tokenize wordpiece --vocab v --normalize NFKD
+ --source docs --tokenize wordpiece --vocab v --dedup exact
+ --source docs --tokenize wordpiece --vocab v --dedup near
+ --source docs --tokenize wordpiece --vocab v --sentence-span-dedup 3
- --source docs --tokenize wordpiece --vocab v --sentence-span-dedup 1
+ --source docs --tokenize wordpiece --vocab v --out o
- --source docs --tokenize bpe --vocab v.json --merges m.txt --tokenize wordpiece
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --tokenize bpe
- --source docs --tokenize bpe --vocab v.json --merges m.txt --tokenize unigram
- --source docs --tokenize bpe --vocab v.json --merges m.txt --tokenizer-json t
- --source docs --tokenize bpe --vocab v.json --merges m.txt --tokenizer-json ''
- --source docs --tokenize bpe --vocab v.json --merges m.txt --charsmap nfkc
- --source docs --tokenize bpe --vocab v.json --merges m.txt --charsmap record
- --source docs --tokenize bpe --vocab v.json --merges m.txt --vocab v
- --source docs --tokenize bpe --vocab v.json --merges m.txt --vocab ''
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --merges m.txt
- --source docs --tokenize bpe --vocab v.json --merges m.txt --merges ''
- --source docs --tokenize bpe --vocab v.json --merges m.txt --lm l
- --source docs --tokenize bpe --vocab v.json --merges m.txt --lm ''
- --source docs --tokenize bpe --vocab v.json --merges m.txt --space-marker
- --source docs --tokenize bpe --vocab v.json --merges m.txt --space-marker _
- --source docs --tokenize bpe --vocab v.json --merges m.txt --space-marker ''
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --pack 8
- --source docs --tokenize bpe --vocab v.json --merges m.txt --pack 0
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --shards 2
- --source docs --tokenize bpe --vocab v.json --merges m.txt --shards 0
- --source docs --tokenize bpe --vocab v.json --merges m.txt --shard-seed ep1
! --source docs --tokenize bpe --vocab v.json --merges m.txt --shard-seed ''
- --source docs --tokenize bpe --vocab v.json --merges m.txt --basic-tokenize
- --source docs --tokenize bpe --vocab v.json --merges m.txt --train-tokenizer bpe
- --source docs --tokenize bpe --vocab v.json --merges m.txt --train-tokenizer wordpiece
- --source docs --tokenize bpe --vocab v.json --merges m.txt --train-tokenizer unigram
- --source docs --tokenize bpe --vocab v.json --merges m.txt --vocab-size 300
- --source docs --tokenize bpe --vocab v.json --merges m.txt --vocab-size 0
- --source docs --tokenize bpe --vocab v.json --merges m.txt --byte-level
- --source docs --tokenize bpe --vocab v.json --merges m.txt --prune-rank loss
- --source docs --tokenize bpe --vocab v.json --merges m.txt --prune-rank count
- --source docs --tokenize bpe --vocab v.json --merges m.txt --special-token '<s>'
- --source docs --tokenize bpe --vocab v.json --merges m.txt --special-token 'a b'
- --source docs --tokenize bpe --vocab v.json --merges m.txt --out-model m
- --source docs --tokenize bpe --vocab v.json --merges m.txt --out-model ''
- --source docs --tokenize bpe --vocab v.json --merges m.txt --train-sample-fraction 0.5
- --source docs --tokenize bpe --vocab v.json --merges m.txt --train-sample-fraction 1.5
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --target-lang en
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --target-lang ''
- --source docs --tokenize bpe --vocab v.json --merges m.txt --langid-model lid
- --source docs --tokenize bpe --vocab v.json --merges m.txt --langid-model ''
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --min-quality 0.5
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --min-quality 0
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --gopher
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --normalize NFC
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --normalize NFKD
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --dedup exact
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --dedup near
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --sentence-span-dedup 3
- --source docs --tokenize bpe --vocab v.json --merges m.txt --sentence-span-dedup 1
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --out o
- --source docs --tokenize unigram --lm l --tokenize wordpiece
- --source docs --tokenize unigram --lm l --tokenize bpe
+ --source docs --tokenize unigram --lm l --tokenize unigram
- --source docs --tokenize unigram --lm l --tokenizer-json t
- --source docs --tokenize unigram --lm l --tokenizer-json ''
- --source docs --tokenize unigram --lm l --charsmap nfkc
- --source docs --tokenize unigram --lm l --charsmap record
- --source docs --tokenize unigram --lm l --vocab v
- --source docs --tokenize unigram --lm l --vocab ''
- --source docs --tokenize unigram --lm l --merges m.txt
- --source docs --tokenize unigram --lm l --merges ''
+ --source docs --tokenize unigram --lm l --lm l
+ --source docs --tokenize unigram --lm l --lm ''
+ --source docs --tokenize unigram --lm l --space-marker
+ --source docs --tokenize unigram --lm l --space-marker _
- --source docs --tokenize unigram --lm l --space-marker ''
+ --source docs --tokenize unigram --lm l --pack 8
- --source docs --tokenize unigram --lm l --pack 0
+ --source docs --tokenize unigram --lm l --shards 2
- --source docs --tokenize unigram --lm l --shards 0
- --source docs --tokenize unigram --lm l --shard-seed ep1
! --source docs --tokenize unigram --lm l --shard-seed ''
- --source docs --tokenize unigram --lm l --train-tokenizer bpe
- --source docs --tokenize unigram --lm l --train-tokenizer wordpiece
- --source docs --tokenize unigram --lm l --train-tokenizer unigram
- --source docs --tokenize unigram --lm l --vocab-size 300
- --source docs --tokenize unigram --lm l --vocab-size 0
- --source docs --tokenize unigram --lm l --byte-level
- --source docs --tokenize unigram --lm l --prune-rank loss
- --source docs --tokenize unigram --lm l --prune-rank count
- --source docs --tokenize unigram --lm l --special-token '<s>'
- --source docs --tokenize unigram --lm l --special-token 'a b'
- --source docs --tokenize unigram --lm l --out-model m
- --source docs --tokenize unigram --lm l --out-model ''
- --source docs --tokenize unigram --lm l --train-sample-fraction 0.5
- --source docs --tokenize unigram --lm l --train-sample-fraction 1.5
+ --source docs --tokenize unigram --lm l --target-lang en
+ --source docs --tokenize unigram --lm l --target-lang ''
- --source docs --tokenize unigram --lm l --langid-model lid
- --source docs --tokenize unigram --lm l --langid-model ''
+ --source docs --tokenize unigram --lm l --min-quality 0.5
+ --source docs --tokenize unigram --lm l --min-quality 0
+ --source docs --tokenize unigram --lm l --gopher
+ --source docs --tokenize unigram --lm l --normalize NFC
+ --source docs --tokenize unigram --lm l --normalize NFKD
+ --source docs --tokenize unigram --lm l --dedup exact
+ --source docs --tokenize unigram --lm l --dedup near
+ --source docs --tokenize unigram --lm l --sentence-span-dedup 3
- --source docs --tokenize unigram --lm l --sentence-span-dedup 1
+ --source docs --tokenize unigram --lm l --out o
- --source docs --tokenizer-json t --tokenize wordpiece
- --source docs --tokenizer-json t --tokenize bpe
- --source docs --tokenizer-json t --tokenize unigram
+ --source docs --tokenizer-json t --tokenizer-json t
+ --source docs --tokenizer-json t --tokenizer-json ''
+ --source docs --tokenizer-json t --charsmap nfkc
+ --source docs --tokenizer-json t --charsmap record
- --source docs --tokenizer-json t --vocab ''
- --source docs --tokenizer-json t --merges m.txt
- --source docs --tokenizer-json t --merges ''
- --source docs --tokenizer-json t --lm ''
- --source docs --tokenizer-json t --space-marker
- --source docs --tokenizer-json t --space-marker _
- --source docs --tokenizer-json t --space-marker ''
+ --source docs --tokenizer-json t --pack 8
! --source docs --tokenizer-json t --pack 0
+ --source docs --tokenizer-json t --shards 2
! --source docs --tokenizer-json t --shards 0
- --source docs --tokenizer-json t --shard-seed ep1
! --source docs --tokenizer-json t --shard-seed ''
- --source docs --tokenizer-json t --train-tokenizer bpe
- --source docs --tokenizer-json t --train-tokenizer wordpiece
- --source docs --tokenizer-json t --train-tokenizer unigram
- --source docs --tokenizer-json t --vocab-size 300
- --source docs --tokenizer-json t --vocab-size 0
- --source docs --tokenizer-json t --byte-level
- --source docs --tokenizer-json t --prune-rank loss
- --source docs --tokenizer-json t --prune-rank count
- --source docs --tokenizer-json t --special-token '<s>'
- --source docs --tokenizer-json t --special-token 'a b'
- --source docs --tokenizer-json t --out-model m
- --source docs --tokenizer-json t --out-model ''
- --source docs --tokenizer-json t --train-sample-fraction 0.5
- --source docs --tokenizer-json t --train-sample-fraction 1.5
+ --source docs --tokenizer-json t --target-lang en
+ --source docs --tokenizer-json t --target-lang ''
- --source docs --tokenizer-json t --langid-model lid
- --source docs --tokenizer-json t --langid-model ''
+ --source docs --tokenizer-json t --min-quality 0.5
+ --source docs --tokenizer-json t --min-quality 0
+ --source docs --tokenizer-json t --gopher
+ --source docs --tokenizer-json t --normalize NFC
+ --source docs --tokenizer-json t --normalize NFKD
+ --source docs --tokenizer-json t --dedup exact
+ --source docs --tokenizer-json t --dedup near
+ --source docs --tokenizer-json t --sentence-span-dedup 3
- --source docs --tokenizer-json t --sentence-span-dedup 1
+ --source docs --tokenizer-json t --out o
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --tokenize wordpiece
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --tokenize bpe
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --tokenize unigram
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --tokenizer-json t
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --tokenizer-json ''
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --charsmap nfkc
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --charsmap record
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --vocab v
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --vocab ''
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --merges m.txt
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --merges ''
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --lm l
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --lm ''
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --space-marker _
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --space-marker ''
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --pack 8
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --pack 0
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --shards 2
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --shards 0
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --shard-seed ep1
! --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --shard-seed ''
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --train-tokenizer bpe
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --train-tokenizer wordpiece
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --train-tokenizer unigram
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --vocab-size 300
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --vocab-size 0
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --byte-level
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --prune-rank count
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --special-token '<s>'
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --out-model m
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --out-model ''
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --train-sample-fraction 0.5
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --train-sample-fraction 1.5
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --target-lang en
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --target-lang ''
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --langid-model lid
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --langid-model ''
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --min-quality 0.5
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --min-quality 0
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --gopher
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --normalize NFC
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --normalize NFKD
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --dedup exact
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --dedup near
+ --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --sentence-span-dedup 3
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --sentence-span-dedup 1
- --source docs --train-tokenizer bpe --vocab-size 300 --out-model m --out o
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --tokenize wordpiece
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --tokenize bpe
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --tokenize unigram
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --tokenizer-json t
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --tokenizer-json ''
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --charsmap nfkc
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --charsmap record
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --vocab v
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --vocab ''
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --merges m.txt
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --merges ''
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --lm l
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --lm ''
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --space-marker
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --space-marker _
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --space-marker ''
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --pack 8
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --pack 0
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --shards 2
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --shards 0
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --shard-seed ep1
! --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --shard-seed ''
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --basic-tokenize
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --train-tokenizer bpe
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --train-tokenizer wordpiece
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --train-tokenizer unigram
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --vocab-size 300
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --vocab-size 0
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --prune-rank loss
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --prune-rank count
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --special-token '<s>'
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --special-token 'a b'
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --out-model m
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --out-model ''
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --train-sample-fraction 0.5
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --train-sample-fraction 1.5
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --target-lang en
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --target-lang ''
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --langid-model lid
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --langid-model ''
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --min-quality 0.5
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --min-quality 0
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --gopher
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --normalize NFC
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --normalize NFKD
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --dedup exact
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --dedup near
+ --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --sentence-span-dedup 3
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --sentence-span-dedup 1
- --source docs --train-tokenizer wordpiece --vocab-size 30 --out-model m --out o
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --tokenize wordpiece
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --tokenize bpe
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --tokenize unigram
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --tokenizer-json t
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --tokenizer-json ''
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --charsmap nfkc
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --charsmap record
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --vocab v
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --vocab ''
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --merges m.txt
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --merges ''
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --lm l
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --lm ''
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --space-marker
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --space-marker _
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --space-marker ''
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --pack 8
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --pack 0
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --shards 2
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --shards 0
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --shard-seed ep1
! --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --shard-seed ''
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --train-tokenizer bpe
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --train-tokenizer wordpiece
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --train-tokenizer unigram
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --vocab-size 300
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --vocab-size 0
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --prune-rank loss
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --prune-rank count
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --special-token '<s>'
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --special-token 'a b'
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --out-model m
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --out-model ''
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --train-sample-fraction 0.5
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --target-lang en
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --target-lang ''
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --langid-model lid
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --langid-model ''
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --min-quality 0.5
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --min-quality 0
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --gopher
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --normalize NFC
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --normalize NFKD
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --dedup exact
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --dedup near
+ --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --sentence-span-dedup 3
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --sentence-span-dedup 1
- --source docs --train-tokenizer unigram --vocab-size 30 --out-model m --out o
- --source docs --dedup exact --tokenize wordpiece
- --source docs --dedup exact --tokenize bpe
- --source docs --dedup exact --tokenize unigram
+ --source docs --dedup exact --tokenizer-json t
+ --source docs --dedup exact --tokenizer-json ''
- --source docs --dedup exact --charsmap nfkc
- --source docs --dedup exact --charsmap record
- --source docs --dedup exact --vocab ''
- --source docs --dedup exact --merges m.txt
- --source docs --dedup exact --merges ''
- --source docs --dedup exact --lm l
- --source docs --dedup exact --lm ''
- --source docs --dedup exact --space-marker _
- --source docs --dedup exact --space-marker ''
- --source docs --dedup exact --pack 0
- --source docs --dedup exact --shards 2
- --source docs --dedup exact --shards 0
- --source docs --dedup exact --shard-seed ep1
! --source docs --dedup exact --shard-seed ''
- --source docs --dedup exact --basic-tokenize
- --source docs --dedup exact --train-tokenizer bpe
- --source docs --dedup exact --train-tokenizer wordpiece
- --source docs --dedup exact --train-tokenizer unigram
- --source docs --dedup exact --vocab-size 300
- --source docs --dedup exact --vocab-size 0
- --source docs --dedup exact --prune-rank loss
- --source docs --dedup exact --special-token 'a b'
- --source docs --dedup exact --out-model ''
- --source docs --dedup exact --train-sample-fraction 1.5
+ --source docs --dedup exact --target-lang en
+ --source docs --dedup exact --target-lang ''
- --source docs --dedup exact --langid-model lid
- --source docs --dedup exact --langid-model ''
+ --source docs --dedup exact --min-quality 0.5
+ --source docs --dedup exact --min-quality 0
+ --source docs --dedup exact --gopher
+ --source docs --dedup exact --normalize NFC
+ --source docs --dedup exact --normalize NFKD
+ --source docs --dedup exact --dedup exact
+ --source docs --dedup exact --dedup near
+ --source docs --dedup exact --sentence-span-dedup 3
- --source docs --dedup exact --sentence-span-dedup 1
+ --source docs --dedup exact --out o
# --shard-seed with --shards, under each serve mode
+ --source docs --tokenize wordpiece --vocab v --shards 2 --shard-seed ep1
+ --source docs --tokenize wordpiece --vocab v --shards 2 --shard-seed ''
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --shards 2 --shard-seed ep1
+ --source docs --tokenize bpe --vocab v.json --merges m.txt --shards 2 --shard-seed ''
+ --source docs --tokenize unigram --lm l --shards 2 --shard-seed ep1
+ --source docs --tokenize unigram --lm l --shards 2 --shard-seed ''
+ --source docs --tokenizer-json t --shards 2 --shard-seed ep1
+ --source docs --tokenizer-json t --shards 2 --shard-seed ''
# global flags only, under each --source
+ --source dump
+ --source wet
+ --source warc
"""


class _Accepted(Exception):
    """main() passed every usage check and asked for a Spark session."""


def _boot(*args, **kwargs):
    raise _Accepted


def _outcome(argv: list[str]) -> str:
    try:
        cli.main(["--infn", "x", *argv])
    except _Accepted:
        return "+"
    except SystemExit as e:
        return "-" if e.code == 2 else f"exit {e.code}"
    return "returned without starting Spark"


def test_cli_flag_table(monkeypatch):
    monkeypatch.setattr(cli, "get_spark", _boot)
    wrong = []
    for line in TABLE.splitlines():
        if not line or line.startswith("#"):
            continue
        mark, _, argv = line.partition(" ")
        want = "+" if mark == "+" else "-"
        got = _outcome(shlex.split(argv))
        if got != want:
            wrong.append(f"{line}  (got {got})")
    assert not wrong, "\n".join(wrong)


@pytest.mark.parametrize(
    "mode",
    [
        "--tokenize wordpiece --vocab v",
        "--tokenizer-json t",
        "--train-tokenizer bpe --vocab-size 300 --out-model m",
        "--dedup exact",
    ],
    ids=["tokenize", "tokenizer-json", "train-tokenizer", "prepare-only"],
)
def test_cli_empty_shard_seed_needs_shards(monkeypatch, mode):
    """--shard-seed is a usage error without --shards whatever its
    value: the empty seed was once tested by value, taken as "not
    given", and silently ignored."""
    monkeypatch.setattr(cli, "get_spark", _boot)
    argv = ["--source", "docs", *shlex.split(mode)]
    assert _outcome(argv + ["--shard-seed", ""]) == "-"
    assert _outcome(argv + ["--shard-seed", "ep1"]) == "-"

