#!/bin/sh
# Wordcount mapper: every space or tab ends a token, so runs of
# separators and leading or trailing ones yield empty tokens, which are
# kept. ASCII letters are lowercased (C locale, byte-wise); every token
# is written as "token<TAB>1".
LC_ALL=C
export LC_ALL
tr ' \t' '\n\n' | tr 'A-Z' 'a-z' | awk '{ print $0 "\t1" }'
