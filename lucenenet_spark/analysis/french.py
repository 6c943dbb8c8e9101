"""contrib French analyzer — FrenchStemmer/ElisionFilter/FrenchAnalyzer.

Exact statement-level port of the reference's pre-snowball French
stemmer (src/contrib/Analyzers/Fr/FrenchStemmer.cs), validated against
the inline goldens of test/contrib/Analyzers/Fr/TestFrenchAnalyzer.cs
(tests/test_legacy_stemmers.py).

Structure preserved bit-for-bit:
- Every suffix helper removes from the GLOBAL buffer (suffix lengths
  taken from the matched zone string), immediately recomputes all
  zones (SetStrings), and breaks after the first match of its list.
- step1 sets `suite` only via the amment/emment/ment(s) rules; step2a
  runs when step1 made no change OR suite is set; step3 runs when
  modified or suite, else step4.
- TreatVowels uppercases u/i between vowels, y next to a vowel, and u
  after q; step3/step6 undo marks positionally.
- IsStemmable rejects words with an uppercase letter anywhere but
  position 0 (kept for parity; the engine chain lowercases first, a
  documented deviation that only affects ALL-CAPS inputs).

Chain (FrenchAnalyzer.cs TokenStream): StandardTokenizer ->
StandardFilter -> StopFilter(FRENCH_STOP_WORDS) -> FrenchStemFilter ->
LowerCaseFilter (lowercase LAST in the reference; first here, see
above).  ElisionFilter (ElisionFilter.cs) strips l'/qu'/... article
prefixes up to the first apostrophe when the prefix is in the article
set; it is NOT part of the default analyzer chain, matching the
reference.
"""

from __future__ import annotations

from .tokenizers import StandardChain
from .intl import INTL_TOKEN_RE

# FRENCH_STOP_WORDS (FrenchAnalyzer.cs:50-77), transcribed verbatim.
FRENCH_STOP_WORDS: frozenset[str] = frozenset("""
a afin ai ainsi après attendu au aujourd auquel aussi autre autres aux
auxquelles auxquels avait avant avec avoir c car ce ceci cela celle
celles celui cependant certain certaine certaines certains ces cet
cette ceux chez ci combien comme comment concernant contre d dans de
debout dedans dehors delà depuis derrière des désormais desquelles
desquels dessous dessus devant devers devra divers diverse diverses
doit donc dont du duquel durant dès elle elles en entre environ est et
etc etre eu eux excepté hormis hors hélas hui il ils j je jusqu jusque
l la laquelle le lequel les lesquelles lesquels leur leurs lorsque lui
là ma mais malgré me merci mes mien mienne miennes miens moi moins mon
moyennant même mêmes n ne ni non nos notre nous néanmoins nôtre nôtres
on ont ou outre où par parmi partant pas passé pendant plein plus
plusieurs pour pourquoi proche près puisque qu quand que quel quelle
quelles quels qui quoi quoique revoici revoilà s sa sans sauf se selon
seront ses si sien sienne siennes siens sinon soi soit son sont sous
suivant sur ta te tes tien tienne tiennes tiens toi ton tous tout
toute toutes tu un une va vers voici voilà vos votre vous vu vôtre
vôtres y à ça ès été être ô
""".split())

# ElisionFilter default articles (ElisionFilter.cs:51)
ELISION_ARTICLES: frozenset[str] = frozenset(
    ["l", "m", "t", "qu", "n", "s", "j"])

_VOWELS = frozenset("aeiouyâàëéêèïîôüùû")


def elide(token: str,
          articles: frozenset[str] = ELISION_ARTICLES) -> str:
    """ElisionFilter.IncrementToken: find the FIRST apostrophe (' or
    U+2019); if the prefix before it is an article, keep only the part
    after it (case-insensitive article set in the reference)."""
    pos = min((token.find(a) for a in "'’" if token.find(a) != -1),
              default=-1)
    if pos != -1 and token[:pos].lower() in articles:
        return token[pos + 1:]
    return token


class _FrState:
    __slots__ = ("sb", "r0", "rv", "r1", "r2", "suite", "modified")

    def __init__(self, term: str):
        self.sb = list(term)
        self.suite = False
        self.modified = False
        self.set_strings()

    # SetStrings (FrenchStemmer.cs:131-146)
    def set_strings(self) -> None:
        self.r0 = "".join(self.sb)
        self.rv = _retrieve_rv(self.sb)
        self.r1 = _retrieve_r(self.sb)
        self.r2 = _retrieve_r(list(self.r1)) if self.r1 is not None else None


def _retrieve_r(buf: list[str]) -> str | None:
    n = len(buf)
    pos = -1
    for c in range(n):
        if buf[c] in _VOWELS:
            pos = c
            break
    if pos > -1:
        consonne = -1
        for c in range(pos, n):
            if buf[c] not in _VOWELS:
                consonne = c
                break
        if consonne > -1 and consonne + 1 < n:
            return "".join(buf[consonne + 1:])
    return None


def _retrieve_rv(buf: list[str]) -> str | None:
    n = len(buf)
    if n > 3:
        if buf[0] in _VOWELS and buf[1] in _VOWELS:
            return "".join(buf[3:])
        pos = 0
        for c in range(1, n):
            if buf[c] in _VOWELS:
                pos = c
                break
        if pos + 1 < n:
            return "".join(buf[pos + 1:])
    return None


# ---- suffix helpers: each mutates st.sb, recomputes zones, breaks on
# first match of its list (FrenchStemmer.cs:349-519)

def _delete_from_if_preceded_in(st, source, search, from_, prefix) -> bool:
    if source is not None:
        for suf in search:
            if source.endswith(suf):
                if from_ is not None and from_.endswith(prefix + suf):
                    del st.sb[len(st.sb) - len(suf):]
                    st.set_strings()
                    return True
    return False


def _delete_from_if_test_vowel_before_in(st, source, search, vowel,
                                         from_) -> bool:
    if source is not None and from_ is not None:
        for suf in search:
            if source.endswith(suf):
                if len(suf) + 1 <= len(from_):
                    test = st.sb[len(st.sb) - (len(suf) + 1)] in _VOWELS
                    if test == vowel:
                        del st.sb[len(st.sb) - len(suf):]
                        st.modified = True
                        st.set_strings()
                        return True
    return False


def _delete_but_suffix_from(st, source, search, prefix, without) -> None:
    if source is not None:
        for suf in search:
            if source.endswith(prefix + suf):
                del st.sb[len(st.sb) - (len(prefix) + len(suf)):]
                st.modified = True
                st.set_strings()
                break
            elif without and source.endswith(suf):
                del st.sb[len(st.sb) - len(suf):]
                st.modified = True
                st.set_strings()
                break


def _delete_but_suffix_from_else_replace(st, source, search, prefix,
                                         without, from_, replace) -> None:
    if source is not None:
        for suf in search:
            if source.endswith(prefix + suf):
                del st.sb[len(st.sb) - (len(prefix) + len(suf)):]
                st.modified = True
                st.set_strings()
                break
            elif from_ is not None and from_.endswith(prefix + suf):
                del st.sb[len(st.sb) - (len(prefix) + len(suf)):]
                st.sb.extend(replace)
                st.modified = True
                st.set_strings()
                break
            elif without and source.endswith(suf):
                del st.sb[len(st.sb) - len(suf):]
                st.modified = True
                st.set_strings()
                break


def _replace_from(st, source, search, replace) -> bool:
    if source is not None:
        for suf in search:
            if source.endswith(suf):
                del st.sb[len(st.sb) - len(suf):]
                st.sb.extend(replace)
                st.modified = True
                st.set_strings()
                return True
    return False


def _delete_from(st, source, suffixes) -> None:
    if source is not None:
        for suf in suffixes:
            if source.endswith(suf):
                del st.sb[len(st.sb) - len(suf):]
                st.modified = True
                st.set_strings()
                break


def _step1(st: _FrState) -> None:
    _delete_from(st, st.r2, ["ances", "iqUes", "ismes", "ables", "istes",
                             "ance", "iqUe", "isme", "able", "iste"])
    _replace_from(st, st.r2, ["logies", "logie"], "log")
    _replace_from(st, st.r2, ["usions", "utions", "usion", "ution"], "u")
    _replace_from(st, st.r2, ["ences", "ence"], "ent")
    search = ["atrices", "ateurs", "ations", "atrice", "ateur", "ation"]
    _delete_but_suffix_from_else_replace(st, st.r2, search, "ic", True,
                                         st.r0, "iqU")
    _delete_but_suffix_from_else_replace(st, st.r2, ["ements", "ement"],
                                         "eus", False, st.r0, "eux")
    _delete_but_suffix_from(st, st.r2, ["ements", "ement"], "ativ", False)
    _delete_but_suffix_from(st, st.r2, ["ements", "ement"], "iv", False)
    _delete_but_suffix_from(st, st.r2, ["ements", "ement"], "abl", False)
    _delete_but_suffix_from(st, st.r2, ["ements", "ement"], "iqU", False)
    _delete_from_if_test_vowel_before_in(
        st, st.r1, ["issements", "issement"], False, st.r0)
    _delete_from(st, st.rv, ["ements", "ement"])
    _delete_but_suffix_from_else_replace(st, st.r2, ["ités", "ité"],
                                         "abil", False, st.r0, "abl")
    _delete_but_suffix_from_else_replace(st, st.r2, ["ités", "ité"],
                                         "ic", False, st.r0, "iqU")
    _delete_but_suffix_from(st, st.r2, ["ités", "ité"], "iv", True)
    autre = ["ifs", "ives", "if", "ive"]
    _delete_but_suffix_from_else_replace(st, st.r2, autre, "icat", False,
                                         st.r0, "iqU")
    _delete_but_suffix_from_else_replace(st, st.r2, autre, "at", True,
                                         st.r2, "iqU")
    _replace_from(st, st.r0, ["eaux"], "eau")
    _replace_from(st, st.r1, ["aux"], "al")
    _delete_but_suffix_from_else_replace(st, st.r2, ["euses", "euse"],
                                         "", True, st.r1, "eux")
    _delete_from(st, st.r2, ["eux"])
    if _replace_from(st, st.rv, ["amment"], "ant"):
        st.suite = True
    if _replace_from(st, st.rv, ["emment"], "ent"):
        st.suite = True
    if _delete_from_if_test_vowel_before_in(st, st.rv, ["ments", "ment"],
                                            True, st.rv):
        st.suite = True


_STEP2A = ["îmes", "îtes", "iraIent", "irait", "irais", "irai", "iras",
           "ira", "irent", "iriez", "irez", "irions", "irons", "iront",
           "issaIent", "issais", "issantes", "issante", "issants",
           "issant", "issait", "issais", "issions", "issons", "issiez",
           "issez", "issent", "isses", "isse", "ir", "is", "ît", "it",
           "ies", "ie", "i"]

_STEP2B_DEL = ["eraIent", "erais", "erait", "erai", "eras", "erions",
               "eriez", "erons", "eront", "erez", "èrent", "era", "ées",
               "iez", "ée", "és", "er", "ez", "é"]
_STEP2B_E = ["assions", "assiez", "assent", "asses", "asse", "aIent",
             "antes", "aIent", "Aient", "ante", "âmes", "âtes", "ants",
             "ant", "ait", "aît", "ais", "Ait", "Aît", "Ais", "ât",
             "as", "ai", "Ai", "a"]


def _step2a(st: _FrState) -> bool:
    return _delete_from_if_test_vowel_before_in(st, st.rv, _STEP2A,
                                                False, st.rv)


def _step2b(st: _FrState) -> None:
    _delete_from(st, st.rv, _STEP2B_DEL)
    _delete_but_suffix_from(st, st.rv, _STEP2B_E, "e", True)
    _delete_from(st, st.r2, ["ions"])


def _step3(st: _FrState) -> None:
    if st.sb:
        ch = st.sb[-1]
        if ch == "Y":
            st.sb[-1] = "i"
            st.set_strings()
        elif ch == "ç":
            st.sb[-1] = "c"
            st.set_strings()


def _step4(st: _FrState) -> None:
    if len(st.sb) > 1 and st.sb[-1] == "s":
        b = st.sb[-2]
        if b not in ("a", "i", "o", "u", "è", "s"):
            del st.sb[-1]
            st.set_strings()
    found = _delete_from_if_preceded_in(st, st.r2, ["ion"], st.rv, "s")
    if not found:
        _delete_from_if_preceded_in(st, st.r2, ["ion"], st.rv, "t")
    _replace_from(st, st.rv, ["Ière", "ière", "Ier", "ier"], "i")
    _delete_from(st, st.rv, ["e"])
    _delete_from_if_preceded_in(st, st.rv, ["ë"], st.r0, "gu")


def _step5(st: _FrState) -> None:
    if st.r0 is not None:
        if st.r0.endswith(("enn", "onn", "ett", "ell", "eill")):
            del st.sb[-1]
            st.set_strings()


def _step6(st: _FrState) -> None:
    if st.r0:
        seen_vowel = False
        seen_conson = False
        pos = -1
        for i in range(len(st.r0) - 1, -1, -1):
            ch = st.r0[i]
            if ch in _VOWELS:
                if not seen_vowel:
                    if ch in ("é", "è"):
                        pos = i
                        break
                seen_vowel = True
            else:
                if seen_vowel:
                    break
                seen_conson = True
        if pos > -1 and seen_conson and not seen_vowel:
            st.sb[pos] = "e"


def _treat_vowels(s: list[str]) -> None:
    for c, ch in enumerate(s):
        if c == 0:
            if len(s) > 1 and ch == "y" and s[1] in _VOWELS:
                s[0] = "Y"
        elif c == len(s) - 1:
            if ch == "u" and s[c - 1] == "q":
                s[c] = "U"
            if ch == "y" and s[c - 1] in _VOWELS:
                s[c] = "Y"
        else:
            if ch == "u":
                if s[c - 1] == "q":
                    s[c] = "U"
                elif s[c - 1] in _VOWELS and s[c + 1] in _VOWELS:
                    s[c] = "U"
            if ch == "i":
                if s[c - 1] in _VOWELS and s[c + 1] in _VOWELS:
                    s[c] = "I"
            if ch == "y":
                if s[c - 1] in _VOWELS or s[c + 1] in _VOWELS:
                    s[c] = "Y"


def _is_stemmable(term: str) -> bool:
    upper = False
    first = -1
    for c, ch in enumerate(term):
        if not ch.isalpha():
            return False
        if ch.isupper():
            if upper:
                return False
            first = c
            upper = True
    return first <= 0


def french_stem(term: str) -> str:
    """FrenchStemmer.Stem (FrenchStemmer.cs:91-131)."""
    if not _is_stemmable(term):
        return term
    term = term.lower()
    if not term:
        return term
    st = _FrState(term)
    _treat_vowels(st.sb)
    st.set_strings()
    _step1(st)
    if not st.modified or st.suite:
        if st.rv is not None:
            st.suite = _step2a(st)
            if not st.suite:
                _step2b(st)
    if st.modified or st.suite:
        _step3(st)
    else:
        _step4(st)
    _step5(st)
    _step6(st)
    return "".join(st.sb)


def french_analyzer(stopwords: frozenset[str] = FRENCH_STOP_WORDS,
                    exclusions: frozenset[str] = frozenset()):
    """StandardTokenizer -> StandardFilter -> Stop (holes) ->
    FrenchStemFilter -> LowerCase (FrenchAnalyzer.cs TokenStream).

    The engine lowercases before tokenizing (shared contract); the
    reference lowercases LAST, so only ALL-CAPS inputs (unstemmable
    there, stemmed here) and upper-case stopword forms differ."""
    def stem(tok: str) -> str:
        s = None if tok in exclusions else french_stem(tok)
        # trailing LowerCaseFilter folds the U/I/Y treat-vowel
        # markers the stemmer may leave (e.g. "abdiqU" -> "abdiqu")
        return (tok if s is None else s).lower()
    return StandardChain(frozenset(stopwords), stem, INTL_TOKEN_RE)
